"""Golden-file test against the reference's ACTUAL shipped output.

`/root/reference/python/cdr_taxonomy_xbrl_to_json/example/031_2022-06-30.json`
(2,428 concepts, 2,444 (concept, schedule) entries) is the reference
pipeline's real product (cdr_taxonomy_processor.py:186-262). The fixture
reconstructs the presentation DAG from the golden paths themselves —
verified exhaustively below: the rebuilt DAG's all-simple-paths enumeration
equals the golden path set exactly — then runs the engine's FULL pipeline
(expand_paths → classify_paths → assemble_taxonomy → attach_references)
and asserts WHOLESALE equality of the nested output dict with the shipped
file: schedule keys, {code, label} leaves, extra_col_N numbering, and the
reference {line, column} merge.
"""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from scripts_toolkit_spark.operators.graph import (
    assemble_taxonomy,
    attach_references,
    classify_paths,
    expand_paths,
    taxonomy_json,
)

GOLDEN = "/root/reference/python/cdr_taxonomy_xbrl_to_json/example/031_2022-06-30.json"
ROOT = "__golden_root__"

# the golden file ships with the reference checkout, which is not always
# present: skip (like the import-gated decoder tests) instead of erroring
pytestmark = pytest.mark.skipif(
    not os.path.exists(GOLDEN), reason=f"reference golden file absent: {GOLDEN}"
)


def _load_golden():
    with open(GOLDEN) as f:
        return json.load(f)["data"]


def _reconstruct(golden):
    """Golden entries → (full paths concept→ROOT, code→label map, reference
    rows). Inverts the reference's assembly (:203-231): line_ids came from
    reversed(path[1:]) = [schedule, extras...]; column_ids from
    [schedule, colset, column, extras...]."""
    paths, labels, refs = [], {}, []

    def temp_codes(entry, headers):
        n = len([k for k in entry if k.startswith("extra_col_")])
        codes = [entry[h]["code"] for h in headers]
        codes += [entry[f"extra_col_{i}"]["code"] for i in range(n)]
        for v in entry.values():
            if isinstance(v, dict) and "code" in v:
                labels[v["code"]] = v["label"]
        return codes

    for concept, scheds in golden.items():
        for sched_key, entry in scheds.items():
            if "line_ids" in entry:
                tmp = temp_codes(entry["line_ids"], ["schedule"])
                paths.append([concept, *reversed(tmp), ROOT])
            if "column_ids" in entry:
                tmp = temp_codes(entry["column_ids"], ["schedule", "colset", "column"])
                paths.append([concept, *reversed(tmp), ROOT])
            if "reference" in entry:
                refs.append(
                    (concept, sched_key, entry["reference"]["line"], entry["reference"]["column"])
                )
    return paths, labels, refs


def test_golden_dag_reconstruction_is_exact():
    """Fixture validity: enumerating all paths of the rebuilt edge DAG gives
    exactly the golden path set (no phantom paths through shared nodes), so
    the engine comparison below is strict, not merely superset."""
    golden = _load_golden()
    paths, _labels, _refs = _reconstruct(golden)
    edges, adj = set(), {}
    for p in paths:
        for a, b in zip(p, p[1:]):
            if (a, b) not in edges:
                edges.add((a, b))
                adj.setdefault(a, []).append(b)
    enumerated = set()

    def walk(node, acc):
        if node == ROOT:
            enumerated.add(tuple(acc))
            return
        for nxt in adj.get(node, ()):
            walk(nxt, acc + [nxt])

    for concept in golden:
        walk(concept, [concept])
    assert enumerated == {tuple(p) for p in paths}


def _code_dict(struct_row):
    return {"code": struct_row["code"], "label": struct_row["label"]}


def _flatten(ids_row, headers):
    out = {h: _code_dict(ids_row[h]) for h in headers}
    for k in sorted(ids_row["extras"].keys()):
        out[k] = _code_dict(ids_row["extras"][k])
    return out


@pytest.fixture(scope="module")
def engine_output(spark):
    golden = _load_golden()
    paths, labels, refs = _reconstruct(golden)
    edges = {(a, b) for p in paths for a, b in zip(p, p[1:])}
    edges_df = spark.createDataFrame(sorted(edges), "src string, dst string")
    concepts_df = spark.createDataFrame([(c,) for c in sorted(golden)], "node string")
    labels_df = spark.createDataFrame(
        [(k, v) for k, v in sorted(labels.items())], "node string, label_text string"
    )
    refs_df = spark.createDataFrame(
        sorted(refs), "concept string, schedule string, line string, column string"
    )

    expanded = expand_paths(edges_df, concepts_df, ROOT, start_partitions=8)
    assembled = attach_references(
        assemble_taxonomy(classify_paths(expanded), labels_df), refs_df
    )
    return golden, assembled


def test_full_pipeline_reproduces_shipped_golden_file(engine_output):
    golden, assembled = engine_output
    rebuilt: dict = {}
    for row in assembled.collect():
        entry = rebuilt.setdefault(row["concept"], {}).setdefault(row["schedule"], {})
        if row["line_ids"] is not None:
            entry["line_ids"] = _flatten(row["line_ids"], ["schedule"])
        if row["column_ids"] is not None:
            entry["column_ids"] = _flatten(row["column_ids"], ["schedule", "colset", "column"])
        if row["reference"] is not None:
            entry["reference"] = {
                "line": row["reference"]["line"],
                "column": row["reference"]["column"],
            }
    assert set(rebuilt) == set(golden)
    mismatches = [c for c in golden if rebuilt[c] != golden[c]]
    assert not mismatches, (
        f"{len(mismatches)} concepts differ; first: "
        f"{mismatches[0]}: {json.dumps(rebuilt[mismatches[0]], sort_keys=True)[:400]} "
        f"VS {json.dumps(golden[mismatches[0]], sort_keys=True)[:400]}"
    )


def test_taxonomy_json_export_carries_reference(engine_output):
    golden, assembled = engine_output
    docs = {r["concept"]: json.loads(r["json"]) for r in taxonomy_json(assembled).collect()}
    concept = "cc_RCFN2898"  # documented example entry in the shipped file
    doc = docs[concept]
    assert doc["concept"] == concept
    sched = doc["schedules"]["RCI"]
    assert sched["reference"] == golden[concept]["RCI"]["reference"]
    assert sched["column_ids"]["column"]["code"] == golden[concept]["RCI"]["column_ids"]["column"]["code"]
