"""Plan code reads no ambient environment (Spark-free lint).

The correctness oracle verifies the plan a query body builds; an
`os.environ` / `getenv` read inside `scripts_toolkit_spark/plans/` lets an
oracle run and a production run build different plans from the same code.
Session-level knobs belong in `session.py`, not in query bodies.
"""

from __future__ import annotations

import pathlib
import re

PLANS = pathlib.Path(__file__).resolve().parents[1] / "scripts_toolkit_spark" / "plans"
ENV_READ = re.compile(r"\bos\.environ\b|\bgetenv\b|\benviron\.get\b")


def test_no_env_reads_in_plan_code():
    files = sorted(PLANS.glob("*.py"))
    assert files, f"no plan modules under {PLANS}"
    hits = [
        f"{f.name}:{n}: {line.strip()}"
        for f in files
        for n, line in enumerate(f.read_text().splitlines(), 1)
        if ENV_READ.search(line)
    ]
    assert not hits, "ambient env reads in plan code:\n" + "\n".join(hits)
