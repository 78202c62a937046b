"""The benchmark's closed-loop, single-client workloads.

Each workload has four phases, driven by `run.py`:

- `prepare()`  seeded input generation and file writing; never timed;
- `setup()`    the per-session set-up a user pays before the first request
               (the ANN index build); timed into `setup_s`;
- `stage(i)`   the input handle of request `i` (reading a file's schema);
               untimed;
- `request(i)` one request, made only of calls into `scripts_toolkit_spark`;
               timed; its output is checked by `check(out)`, untimed;
- `finish()`   end-of-run work: the taxonomy leg (regulatory) or store
               maintenance (ingest); traced, outside the request latency.

A request never mixes types: every request of a workload runs the same call
sequence on inputs of the same size, so its latencies form one distribution.
"""

from __future__ import annotations

import glob
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen

ROOT_NODE = "root"
# registered `ann_index_residual` store parameters (residual x spilled)
STORE_PARAMS = dict(n_home=2, residual=True, pq_n_codes=64, m=4, sub_dim=16)
SEARCH_PARAMS = dict(k=gen.TOP_K, n_probe=8, use_pq=True, rerank_factor=16)
# a search below this recall@10 fails its request
RECALL_FLOOR = 0.85


class CheckFailed(Exception):
    """A request's output disagrees with the generator's truth."""


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _s, files in os.walk(path) for f in files
    )


def _write_vectors(path: str, ids: np.ndarray, vecs: np.ndarray) -> None:
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.reshape(-1)), vecs.shape[1])
    table = pa.table({"vec_id": pa.array(ids), "embedding": emb.cast(pa.list_(pa.float32()))})
    pq.write_table(table, path)


class Workload:
    name = ""
    # requests run before timing starts; see drift.json
    warmup = 0
    # set-ups per run; `setup_s` is their median
    setup_cycles = 3
    # measured requests made even when --seconds has run out
    min_requests = 3

    def __init__(self, root: str, seed: int):
        self.rng = np.random.default_rng(seed)
        self.inputs = os.path.join(root, "inputs")
        self.out = os.path.join(root, "out")
        os.makedirs(self.inputs)
        os.makedirs(self.out)
        self.hits = 0
        self.expected = 0

    def prepare(self) -> None:
        raise NotImplementedError

    def setup(self, spark, cycle: int) -> None:
        """Per-session set-up; `cycle` numbers the repeated set-ups."""

    def stage(self, spark, i: int):
        """Untimed: the input handle request `i` consumes."""

    def request(self, spark, i: int, staged):
        raise NotImplementedError

    def check(self, spark, out) -> int:
        """Raise CheckFailed unless `out` matches the generator's truth;
        return the items the request delivered (facts or vectors)."""
        raise NotImplementedError

    def finish(self, spark) -> None:
        """End-of-run work that is timed as spans, not as requests."""

    def recall(self) -> float:
        return self.hits / self.expected if self.expected else float("nan")

    def store_bytes_per_raw_byte(self) -> float:
        raise NotImplementedError


class RegulatoryEtl(Workload):
    """One quarterly filing per request, cycling over the generated quarters:
    XPORT -> typed EAV parquet, then MDRM CSV -> dictionary JSON. The
    linkbase XML -> taxonomy JSON leg runs once at the end of the run,
    traced as its own spans and kept out of the request latency. Touches no
    ANN code."""

    name = "regulatory_etl"
    warmup = 2
    # a set-up is a session restart of about 0.1 s, so several of them
    setup_cycles = 7
    # a request takes longer than --seconds / 2; a median needs more samples
    min_requests = 5

    def prepare(self) -> None:
        self.written: set = set()  # quarters whose EAV output exists
        self.quarters = gen.write_quarters(self.rng, self.inputs)
        self.mdrm = gen.write_mdrm(self.rng, self.inputs)
        self.linkbase = gen.write_linkbase(self.rng, self.inputs)
        with open(self.linkbase.pres_path, "rb") as f:
            self.pres_xml = f.read()
        with open(self.linkbase.label_path, "rb") as f:
            self.label_xml = f.read()

    def request(self, spark, i: int, staged):
        from scripts_toolkit_spark.io import sinks, sources
        from scripts_toolkit_spark.operators import reshape
        from scripts_toolkit_spark.plans import mdrm, xport

        q = self.quarters[i % len(self.quarters)]
        eav_path = os.path.join(self.out, f"eav_{q.quarter}")
        wide = sources.read_xport(spark, q.path)
        reshape.write_eav(xport.wide_to_eav(wide, date_col="DATE", entity_col="entity"), eav_path)

        staged_csv = os.path.join(self.out, "mdrm_staged.csv")
        dict_path = os.path.join(self.out, "mdrm_dictionary")
        mdrm.strip_prologue(self.mdrm.path, staged_csv)
        dictionary = mdrm.mdrm_dictionary(mdrm.read_mdrm_csv(spark, staged_csv))
        sinks.write_json_records(dictionary, dict_path)
        return q, eav_path, dict_path

    def check(self, spark, out) -> int:
        q, eav_path, dict_path = out
        table = pq.read_table(eav_path).to_pandas()
        keys = []
        for part in glob.glob(os.path.join(dict_path, "part-*.json")):
            with open(part) as f:
                keys += [json.loads(line)["mdrm"] for line in f if line.strip()]
        facts = sum(c for c, _s in q.expected.values())
        by_type = {t: table[table["data_type"] == t] for t in q.expected}
        self.hits += sum(min(len(by_type[t]), c) for t, (c, _s) in q.expected.items()) + len(
            set(keys) & self.mdrm.mdrm_keys
        )
        self.expected += facts + len(self.mdrm.mdrm_keys)
        self.written.add(q.quarter)

        _expect(set(table["quarter"].astype(int)) == {q.quarter}, "EAV quarter partition")
        for dtype, (count, checksum) in q.expected.items():
            part = by_type[dtype]
            if dtype == "bool":
                got = float(part["bool_data"].sum())
            elif dtype == "str":
                got = float(part["str_data"].str.len().sum())
            else:
                got = float(part[f"{dtype}_data"].sum())
            _expect(len(part) == count, f"EAV {dtype} facts {len(part)} != {count}")
            _expect(got == checksum, f"EAV {dtype} checksum {got} != {checksum}")
        _expect(len(keys) == len(self.mdrm.mdrm_keys), f"dictionary rows {len(keys)}")
        _expect(set(keys) == self.mdrm.mdrm_keys, "dictionary mdrm set")
        return facts

    def finish(self, spark) -> None:
        """The taxonomy leg: presentation + label linkbase -> taxonomy JSON."""
        from pyspark.sql import functions as F

        from scripts_toolkit_spark.io import sinks, sources
        from scripts_toolkit_spark.operators import graph

        edges = sources.linkbase_edges(spark, self.pres_xml)
        label_arcs, labels = sources.linkbase_label_tables(spark, self.label_xml)
        concepts = graph.leaves(edges).where(F.col("node").startswith("cc_"))
        classified = graph.classify_paths(graph.expand_paths(edges, concepts, ROOT_NODE))
        node_labels = label_arcs.join(labels, label_arcs["arc_to"] == labels["label_key"]).select(
            F.col("arc_from").alias("node"), "label_text"
        )
        assembled = graph.assemble_taxonomy(classified, node_labels)
        tax_path = sinks.export_taxonomy_json(
            graph.taxonomy_json(assembled), self.out, "031", str(self.quarters[-1].quarter)
        )

        with open(tax_path) as f:
            doc = json.load(f)["data"]
        placed = {
            cc: {(s, kind[:-4]) for s, v in rec["schedules"].items() for kind in ("column_ids", "line_ids") if v.get(kind)}
            for cc, rec in doc.items()
        }
        expected = self.linkbase.placements
        self.hits += sum(len(v & expected.get(cc, set())) for cc, v in placed.items())
        self.expected += self.linkbase.n_paths
        _expect(placed == expected, "taxonomy (concept, path) set")

    def store_bytes_per_raw_byte(self) -> float:
        done = [q for q in self.quarters if q.quarter in self.written]
        eav = sum(dir_bytes(os.path.join(self.out, f"eav_{q.quarter}")) for q in done)
        return eav / sum(q.raw_bytes for q in done)


class AnnIngest(Workload):
    """One 500-vector `append_to_index` per request into a residual x
    spilled store built in set-up. Every CHECK_EVERY-th append, and the
    last one, is followed by a read-your-writes search, traced as its own
    spans and kept out of the request latency; `index_health` and
    `compact_index` run once at the end."""

    name = "ann_ingest"
    warmup = 3

    def prepare(self) -> None:
        self.vectors = gen.make_vectors(self.rng)
        self.base_path = os.path.join(self.inputs, "corpus.parquet")
        _write_vectors(self.base_path, self.vectors.corpus_ids, self.vectors.corpus)
        self.query_path = os.path.join(self.inputs, "queries.parquet")
        _write_vectors(self.query_path, self.vectors.query_ids, self.vectors.queries)
        self.append_paths = []
        for a, (ids, vecs) in enumerate(self.vectors.appends):
            path = os.path.join(self.inputs, f"append_{a}.parquet")
            _write_vectors(path, ids, vecs)
            self.append_paths.append(path)

    def setup(self, spark, cycle: int) -> None:
        from scripts_toolkit_spark.ext import ann_index

        self.store = os.path.join(self.out, f"store_{cycle}")
        self.appended = 0
        ann_index.build_ann_index(spark.read.parquet(self.base_path), self.store, **STORE_PARAMS)

    def stage(self, spark, i: int):
        if self.appended >= len(self.append_paths):
            raise RuntimeError("ran out of generated append batches; raise INGEST_MAX_APPENDS")
        return spark.read.parquet(self.append_paths[self.appended])

    def request(self, spark, i: int, batch):
        from scripts_toolkit_spark.ext import ann_index

        ann_index.append_to_index(spark, self.store, batch)
        self.appended += 1
        return self.appended

    def check(self, spark, out) -> int:
        batch = out - 1  # append batch ids count from 0; the build is -1
        for sub in ("vectors", "codes"):
            part = os.path.join(self.store, sub, f"batch_id={batch}")
            n = pq.ParquetDataset(part).read(columns=["vec_id"]).num_rows
            _expect(n == gen.INGEST_BATCH * STORE_PARAMS["n_home"], f"append {batch} {sub} rows {n}")
        if out % gen.CHECK_EVERY == 0:
            self._check_search(spark)
        return gen.INGEST_BATCH

    def _check_search(self, spark) -> None:
        """Read-your-writes search of the 64 held-out queries."""
        from scripts_toolkit_spark.ext import ann_index

        result = ann_index.search_index(
            spark, self.store, queries=spark.read.parquet(self.query_path), **SEARCH_PARAMS
        )
        rows = search_exec(result)
        qids, truth = self.vectors.query_ids, self.vectors.check_truth[self.appended]
        found: dict[int, list[int]] = {}
        for row in rows:
            found.setdefault(int(row["query_id"]), []).append(int(row["neighbor_id"]))
        r = gen.recall(found, qids, truth)
        self.hits += round(r * truth.size)
        self.expected += truth.size
        _expect(len(rows) == len(qids) * gen.TOP_K, f"search rows {len(rows)}")
        _expect(set(found) == {int(q) for q in qids}, "search query ids")
        _expect(r >= RECALL_FLOOR, f"recall@{gen.TOP_K} {r:.3f} below {RECALL_FLOOR}")

    def finish(self, spark) -> None:
        from scripts_toolkit_spark.ext import ann_index

        if self.appended % gen.CHECK_EVERY:
            self._check_search(spark)  # the last appends are searched too
        health = ann_index.index_health(spark, self.store).collect()[0]
        n = len(self.vectors.corpus_ids) + self.appended * gen.INGEST_BATCH
        _expect(health["distinct_vectors"] == n, f"health distinct {health['distinct_vectors']} != {n}")
        _expect(health["n_vectors"] == n * STORE_PARAMS["n_home"], "health copies")
        ann_index.compact_index(spark, self.store)
        self.final_vectors = n

    def store_bytes_per_raw_byte(self) -> float:
        return dir_bytes(self.store) / (self.final_vectors * gen.DIM * 4)


def search_exec(result):
    """Execute a search result (the collect), traced as its own span."""
    return result.collect()


WORKLOADS = {w.name: w for w in (RegulatoryEtl, AnnIngest)}
