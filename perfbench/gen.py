"""Seeded input generator for the benchmark, with ground truth computed
independently of the engine (numpy / pandas / the standard library only).

Every input a workload reads comes from here, written into the run's own
directory before the first timed call. The same seed gives byte-identical
files and identical truth. Nothing in this module touches Spark.

Inputs (shapes per FIXTURES.md):
- XPORT quarters (F2) written with `io.xport.write_xport`, including the
  profiler edge cases: an all-zero column, a {0, single 1} column, a
  two-distinct-integer column, whole-number floats, interleaved NULLs and
  string columns.
- An MDRM dictionary CSV (F1) with the one-line prologue, exact duplicate
  rows, HTML / `&#x0D;` / CR / blank-line dirt and null reporting forms.
- Presentation and label linkbase XML (F4): root -> 35 schedules -> line /
  colset -> column nodes -> about 2,400 `cc_` concepts, some reachable
  from two schedules, some through an extra node.
- Clustered float32 vectors of dim 64, with exact cosine top-10 truth.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

# ---------------------------------------------------------------- sizes ---
N_BANKS = 120
N_QUARTERS = 4
QUARTERS = (20230331, 20230630, 20230930, 20231231)
# value columns per quarter: 22 numeric (one 64-column profiling batch) and
# 2 string, so a request takes 3-4.5 s and a run holds five of them
N_BOOL, N_INT, N_FLOAT, N_STR = 4, 8, 10, 2
N_MDRM_ITEMS = 3000
N_MDRM_DUPES = 300
N_SCHEDULES = 35
N_CONCEPTS = 2400
DIM = 64
N_CLUSTERS = 48
QUERY_BATCH = 64
INGEST_BASE = 2000
INGEST_BATCH = 500
INGEST_MAX_APPENDS = 30
CHECK_EVERY = 10
TOP_K = 10

_MNEMONICS = ("RCON", "RCFD", "RIAD", "RCFN", "UBPR", "RSSD")
_ITEM_TYPES = ("J", "D", "F", "R", "S", "E", "P")
_DIRT = ("<b>{}</b>", "{}&#x0D;", "{}\r\nmore", "{}\n\nnext", "<p>{}</p><br/>", "{}")


def _mdrm_names(rng: np.random.Generator, n: int) -> list[str]:
    names: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        code = f"{_MNEMONICS[int(rng.integers(len(_MNEMONICS)))]}{int(rng.integers(10000)):04d}"
        if code not in names:
            names.add(code)
            out.append(code)
    return out


# ---------------------------------------------------------------- XPORT ---
@dataclass
class Quarter:
    quarter: int
    path: str
    raw_bytes: int
    # data_type -> (fact count, checksum) as the EAV output must hold them
    expected: dict[str, tuple[int, float]]


def _with_nulls(rng, col: np.ndarray, share: float) -> np.ndarray:
    out = col.astype("float64")
    out[rng.random(len(out)) < share] = np.nan
    return out


def _quarter_frame(rng: np.random.Generator, names: list[str], quarter: int):
    """One wide bank x MDRM frame plus its intended per-column type."""
    n = N_BANKS
    cols: dict[str, np.ndarray | list] = {
        "ENTITY": np.arange(1, n + 1, dtype="float64") * 7 + 1000,
        "DATE": np.full(n, float(quarter)),
    }
    types: dict[str, str] = {}
    it = iter(names)

    def put(kind: str, values) -> None:
        name = next(it)
        cols[name] = values
        types[name] = kind

    # documented profiler edge cases (FIXTURES.md F2)
    put("int", np.zeros(n))  # all-zero: not bool (one distinct value)
    one = np.zeros(n)
    one[int(rng.integers(n))] = 1.0
    put("bool", one)  # {0, single 1}: reads as bool
    put("int", rng.choice([3.0, 7.0], size=n))  # two non-{0,1} integers
    for _ in range(N_BOOL - 1):
        put("bool", _with_nulls(rng, rng.integers(0, 2, n), 0.1))
    for _ in range(N_INT - 2):
        put("int", _with_nulls(rng, rng.integers(-50_000, 1_000_000, n), 0.15))
    for _ in range(N_FLOAT):
        # multiples of 1/64 round-trip IBM floats exactly and sum exactly
        v = rng.integers(-2**22, 2**22, n) / 64.0
        v[v == np.floor(v)] += 1 / 64.0
        v = _with_nulls(rng, v, 0.15)
        first = int(np.flatnonzero(~np.isnan(v))[0])
        while np.unique(v[~np.isnan(v)]).sum() % 1 == 0:  # would profile as int
            v[first] += 1 / 64.0
        put("float", v)
    for j in range(N_STR):
        words = np.array([f"S{j}V{int(x)}" for x in rng.integers(0, 40, n)], dtype=object)
        put("str", words)
    return pd.DataFrame(cols), types


def _expected_eav(frame: pd.DataFrame, types: dict[str, str]) -> dict[str, tuple[int, float]]:
    """Reference semantics (converter.py:149-176): bool rows always emitted,
    numeric/str NULLs skipped. Checksums: trues for bool, value sums for
    int/float, total characters for str."""
    exp: dict[str, list[float]] = {t: [0, 0.0] for t in ("bool", "int", "float", "str")}
    for name, kind in types.items():
        col = frame[name]
        if kind == "bool":
            exp["bool"][0] += len(col)
            exp["bool"][1] += float((col == 1.0).sum())
        elif kind == "str":
            exp["str"][0] += len(col)
            exp["str"][1] += float(sum(len(s) for s in col))
        else:
            vals = col.to_numpy()[~col.isna().to_numpy()]
            exp[kind][0] += len(vals)
            exp[kind][1] += float(np.trunc(vals).sum() if kind == "int" else vals.sum())
    return {k: (int(c), float(s)) for k, (c, s) in exp.items()}


def profile_reference(frame: pd.DataFrame) -> dict[str, str]:
    """The reference's type heuristics (converter.py:23-94) in pandas, used
    to confirm the generator's intended types before any run."""
    out = {}
    for name in frame.columns:
        if name in ("ENTITY", "DATE"):
            continue
        col = frame[name]
        if col.dtype == object:
            out[name] = "str"
            continue
        distinct = set(col.dropna().unique())
        if distinct == {0.0, 1.0}:
            out[name] = "bool"
        elif sum(distinct) % 1 == 0:
            out[name] = "int"
        else:
            out[name] = "float"
    return out


def write_quarters(rng: np.random.Generator, root: str) -> list[Quarter]:
    from scripts_toolkit_spark.io.xport import write_xport

    names = _mdrm_names(rng, N_BOOL + N_INT + N_FLOAT + N_STR)
    out = []
    for q in QUARTERS[:N_QUARTERS]:
        frame, types = _quarter_frame(rng, names, q)
        if profile_reference(frame) != types:
            raise AssertionError(f"generator produced an unintended column type in {q}")
        blob = write_xport(frame, member_name="CALL")
        path = os.path.join(root, f"call_{q}.xpt")
        with open(path, "wb") as f:
            f.write(blob)
        out.append(Quarter(q, path, len(blob), _expected_eav(frame, types)))
    return out


# ----------------------------------------------------------------- MDRM ---
@dataclass
class Mdrm:
    path: str
    mdrm_keys: frozenset[str]


def _csv_field(s: str) -> str:
    return '"' + s.replace('"', '""') + '"'


def write_mdrm(rng: np.random.Generator, root: str) -> Mdrm:
    codes = _mdrm_names(rng, N_MDRM_ITEMS)
    rows = []
    for i, code in enumerate(codes):
        mnem, item = code[:4], code[4:]
        dirt = _DIRT[i % len(_DIRT)]
        forms = "" if i % 9 == 0 else _csv_field("FFIEC 031,FFIEC 041" if i % 2 else "FFIEC 051")
        rows.append(
            ",".join(
                [
                    mnem,
                    item,
                    f"{1 + i % 12}/30/2016 12:00:00 AM",
                    "12/31/9999 12:00:00 AM" if i % 4 else "3/31/2021 12:00:00 AM",
                    _csv_field(f"Item {code} total"),
                    "Y" if i % 3 == 0 else "N",
                    _ITEM_TYPES[i % len(_ITEM_TYPES)],
                    forms,
                    _csv_field(dirt.format(f"Description of {code}")),
                    _csv_field(dirt.format(f"Glossary {i}")),
                    "",
                ]
            )
        )
    dupes = [rows[int(j)] for j in rng.integers(0, len(rows), N_MDRM_DUPES)]
    body = rows + dupes
    order = rng.permutation(len(body))
    text = (
        "MDRM Data Dictionary export\n"
        'Mnemonic,"Item Code","Start Date","End Date","Item Name",Confidentiality,'
        'ItemType,"Reporting Form",Description,SeriesGlossary,\n'
        + "\n".join(body[int(j)] for j in order)
        + "\n"
    )
    path = os.path.join(root, "mdrm_export.csv")
    with open(path, "w", newline="") as f:
        f.write(text)
    return Mdrm(path, frozenset(codes))


# ------------------------------------------------------------- linkbase ---
@dataclass
class Linkbase:
    pres_path: str
    label_path: str
    # concept -> {(schedule code, kind)} for every presentation path
    placements: dict[str, set[tuple[str, str]]]

    @property
    def n_paths(self) -> int:
        return sum(len(v) for v in self.placements.values())


def write_linkbase(rng: np.random.Generator, root: str) -> Linkbase:
    schedules = [f"RC{chr(65 + i // 26)}{chr(65 + i % 26)}" for i in range(N_SCHEDULES)]
    arcs: list[tuple[str, str]] = []  # (from=parent, to=child)
    line_nodes: dict[str, list[str]] = {}
    column_nodes: dict[str, list[str]] = {}
    for s in schedules:
        sn = f"sch-{s}"
        arcs.append(("root", sn))
        line_nodes[s] = []
        for i in range(int(rng.integers(3, 8))):
            ln = f"line_{s}_{i}"
            arcs.append((sn, ln))
            line_nodes[s].append(ln)
        column_nodes[s] = []
        for j in range(int(rng.integers(1, 3))):
            cs = f"colset_{s}_{j}"
            arcs.append((sn, cs))
            for c in "ABCD"[: int(rng.integers(2, 5))]:
                cn = f"column_{s}_{j}{c}"
                arcs.append((cs, cn))
                column_nodes[s].append(cn)
    concepts = [f"cc_{c}" for c in _mdrm_names(rng, N_CONCEPTS)]
    placements: dict[str, set[tuple[str, str]]] = {}
    n_groups = 0
    for idx, cc in enumerate(concepts):
        first = int(rng.integers(N_SCHEDULES))
        homes = [first]
        if idx % 7 == 0:  # multi-path concept: a second schedule
            homes.append((first + 1 + int(rng.integers(N_SCHEDULES - 1))) % N_SCHEDULES)
        for h in homes:
            s = schedules[h]
            kind = "column" if rng.random() < 0.4 else "line"
            pool = column_nodes[s] if kind == "column" else line_nodes[s]
            parent = pool[int(rng.integers(len(pool)))]
            if idx % 11 == 0:  # an extra node between placement and concept
                grp = f"grp_{n_groups}"
                n_groups += 1
                arcs.append((parent, grp))
                parent = grp
            arcs.append((parent, cc))
            placements.setdefault(cc, set()).add((s, kind))
    pres = ["<?xml version=\"1.0\"?>", "<linkbase>", "  <presentationLink>"]
    pres += [f'    <presentationArc xlink:from="{a}" xlink:to="{b}"/>' for a, b in arcs]
    pres += ["  </presentationLink>", "</linkbase>", ""]
    labelled = sorted({b for _a, b in arcs if not b.startswith("grp_")})
    lab = ["<?xml version=\"1.0\"?>", "<linkbase>", "  <labelLink>"]
    lab += [f'    <labelArc xlink:from="{n}" xlink:to="lab_{n}"/>' for n in labelled]
    lab += [f'    <label xlink:label="lab_{n}">Label of {n}</label>' for n in labelled]
    lab += ["  </labelLink>", "</linkbase>", ""]
    pres_path = os.path.join(root, "report-pres.xml")
    label_path = os.path.join(root, "report-cap.xml")
    with open(pres_path, "w") as f:
        f.write("\n".join(pres))
    with open(label_path, "w") as f:
        f.write("\n".join(lab))
    return Linkbase(pres_path, label_path, placements)


# -------------------------------------------------------------- vectors ---
def _clustered(rng: np.random.Generator, centers: np.ndarray, n: int) -> np.ndarray:
    which = rng.integers(0, len(centers), n)
    return (centers[which] + 0.45 * rng.standard_normal((n, DIM))).astype(np.float32)


def exact_topk(corpus: np.ndarray, ids: np.ndarray, queries: np.ndarray, k: int = TOP_K) -> np.ndarray:
    """Exact cosine top-k ids per query (float64 arithmetic)."""
    c = corpus.astype(np.float64)
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    q = queries.astype(np.float64)
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    sims = q @ c.T
    top = np.argpartition(-sims, k, axis=1)[:, :k]
    return ids[top]


@dataclass
class Vectors:
    corpus_ids: np.ndarray
    corpus: np.ndarray
    query_ids: np.ndarray
    queries: np.ndarray
    # append batches (ids, vectors), and exact top-k per query after each
    # number of appends
    appends: list[tuple[np.ndarray, np.ndarray]] = field(default_factory=list)
    check_truth: dict[int, np.ndarray] = field(default_factory=dict)


def make_vectors(rng: np.random.Generator) -> Vectors:
    centers = 1.5 * rng.standard_normal((N_CLUSTERS, DIM))
    corpus = _clustered(rng, centers, INGEST_BASE)
    ids = np.arange(INGEST_BASE, dtype=np.int64)
    queries = _clustered(rng, centers, QUERY_BATCH)
    query_ids = np.arange(QUERY_BATCH, dtype=np.int64) + 10_000_000
    v = Vectors(ids, corpus, query_ids, queries)
    grown, grown_ids = [corpus], [ids]
    for a in range(1, INGEST_MAX_APPENDS + 1):
        new = _clustered(rng, centers, INGEST_BATCH)
        new_ids = np.arange(INGEST_BATCH, dtype=np.int64) + INGEST_BASE + (a - 1) * INGEST_BATCH
        v.appends.append((new_ids, new))
        grown.append(new)
        grown_ids.append(new_ids)
        v.check_truth[a] = exact_topk(np.concatenate(grown), np.concatenate(grown_ids), queries)
    return v


def recall(found: dict[int, list[int]], qids: np.ndarray, truth: np.ndarray) -> float:
    hits = sum(len(set(found.get(int(q), ())) & set(t.tolist())) for q, t in zip(qids, truth))
    return hits / float(truth.size)
