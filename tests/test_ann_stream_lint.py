"""The streaming ANN ingester composes the store's own code (Spark-free lint).

`streaming/ann_stream.py` must search and write the ANN store only through
`ext/ann_index.py`'s three composition points — `_assign_stored`,
`_rank_probed` and `_write_stored` — plus its public functions. Importing
the similarity kernels or any other private store helper is how a second
copy of the search algorithm or the store layout starts.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "scripts_toolkit_spark"
STREAM = PKG / "streaming" / "ann_stream.py"
SIMILARITY = "scripts_toolkit_spark.ext.similarity"
ANN_INDEX = "scripts_toolkit_spark.ext.ann_index"
ALLOWED_PRIVATE = {"_assign_stored", "_rank_probed", "_write_stored"}


def _violations(source: str) -> list[str]:
    hits = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Import):
            hits += [
                f"{node.lineno}: import {a.name}"
                for a in node.names
                if a.name == SIMILARITY or a.name.startswith(SIMILARITY + ".")
            ]
        elif isinstance(node, ast.ImportFrom) and node.module:
            names = [a.name for a in node.names]
            if node.module == SIMILARITY:
                hits.append(f"{node.lineno}: from {node.module} import {', '.join(names)}")
            elif node.module == "scripts_toolkit_spark.ext" and "similarity" in names:
                hits.append(f"{node.lineno}: from {node.module} import similarity")
            elif node.module == ANN_INDEX:
                hits += [
                    f"{node.lineno}: from {node.module} import {n}"
                    for n in names
                    if n.startswith("_") and n not in ALLOWED_PRIVATE
                ]
    return hits


def test_lint_flags_forbidden_imports():
    bad = (
        f"from {SIMILARITY} import _pq_rank\n"
        f"import {SIMILARITY}\n"
        "from scripts_toolkit_spark.ext import similarity\n"
        f"from {ANN_INDEX} import _assign_stored, _meta_dict, batch_ids\n"
    )
    assert [h.split(":")[0] for h in _violations(bad)] == ["1", "2", "3", "4"]


def test_ann_stream_imports_only_store_composition_points():
    hits = _violations(STREAM.read_text())
    assert not hits, "ann_stream.py reaches past the store's seam:\n" + "\n".join(hits)
