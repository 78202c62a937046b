"""One-command round close-out (round-9 verdict Next #5): the manifest
refresh + ordering check have been forgotten twice running (r8: missed
refresh left the gate red; r9: a comment-only docstring edit drifted a
registered fn's hash). This tool makes the close-out a single command:

    python tools/round_close.py [--all] [changed_query ...]

1. refreshes tests/registry_manifest.json (tools/update_registry_manifest.py);
2. runs tests/test_registry_order.py and FAILS LOUDLY if the ordering
   contract is red (e.g. a changed query parked past the window — the
   manifest refresh only touches in-window hashes, so that stays red by
   design until the query is rotated in);
3. prints the tri-SF verify commands for the queries named on the
   command line (CLAUDE.md: changed queries must verify at sf0.001,
   sf0.01 AND sf0.1 — several past bugs showed at only one SF), or a
   reminder when none are named.

`--all` (round-10 verdict Next #3) additionally runs the FULL-REGISTRY
oracle sweep at sf0.01 — the driver samples only the first 50 of the
registry, so out-of-window correctness otherwise rests on rotation-time
runs plus judge sampling. `--all-sf` runs the full sweep at ALL THREE
SFs (sf0.001 + sf0.01 + sf0.1 — the strongest round-close evidence; the
sf0.1 pass alone takes ~25-35 min). Per-SF counts merge into
FULL_SWEEP.json at the repo root (commit it with the round close) and
any failure fails this tool. Do not overlap a bench measurement.

Without --all it does NOT run verify sweeps itself: they take minutes
each and must not overlap a bench measurement (CLAUDE.md contention
note), so the operator runs them deliberately.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SFS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")


def full_sweep(sf_dirs: tuple[str, ...]) -> int:
    """Run verify_local over EVERY registered query at each given SF,
    merging the per-SF summaries (and any failures) into FULL_SWEEP.json
    (existing per-SF entries for other SFs are kept, so `--all` at
    sf0.01 and a later `--all-sf` tri-SF run compose)."""
    path = os.path.join(REPO, "FULL_SWEEP.json")
    merged: dict = {}
    if os.path.exists(path):
        try:
            with open(path) as f:
                merged = json.load(f)
        except Exception:
            merged = {}
    if "sf_dir" in merged:  # pre-tri-SF single-summary layout
        merged = {merged["sf_dir"]: merged}
    red = False
    for sf_dir in sf_dirs:
        print(f"== full-registry oracle sweep ({sf_dir}) ==", flush=True)
        env = dict(os.environ, SPARK_GRAFT_VERIFY_SF_DIR=sf_dir)
        r = subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "verify_local.py")],
            cwd=REPO,
            capture_output=True,
            text=True,
            env=env,
        )
        out = r.stdout
        sys.stdout.write(out[-2000:])
        m = re.search(r"(\d+) ok, (\d+) weak \(rows-only\), (\d+) FAILED of (\d+)", out)
        summary = {
            "sf_dir": sf_dir,
            "ok": int(m.group(1)) if m else None,
            "weak_rows_only": int(m.group(2)) if m else None,
            "failed": int(m.group(3)) if m else None,
            "total": int(m.group(4)) if m else None,
            "failed_names": re.findall(r"^FAIL (\S+):", out, re.M),
            "rc": r.returncode,
        }
        merged[sf_dir] = summary
        with open(path, "w") as f:
            json.dump(merged, f, indent=1)
        print(f"\nfull sweep: {summary['ok']}/{summary['total']} ok at {sf_dir} -> FULL_SWEEP.json")
        if r.returncode != 0 or (summary["failed"] or 0) > 0 or summary["ok"] is None:
            red = True
    if red:
        print("FULL SWEEP RED — fix before closing the round", file=sys.stderr)
        return 1
    return 0


def bench_deltas() -> None:
    """Print per-query WARM deltas between the two latest recorded
    BENCH_r*.json files not marked load_ok=false (r12 — round-11 verdict
    Next #4 tail: the round-over-round comparison should be one command,
    and a delta smaller than the run's own warm spread is noise, not
    signal)."""
    files = sorted(
        (f for f in os.listdir(REPO) if re.fullmatch(r"BENCH_r\d+\.json", f)),
        key=lambda f: int(re.search(r"\d+", f).group()),
    )

    def _queries(fname: str) -> dict:
        with open(os.path.join(REPO, fname)) as f:
            doc = json.load(f)
        # driver artifact: {"tail": "<stdout tail>", "parsed": {...}|null}
        if isinstance(doc, dict) and "queries" in doc:
            return doc["queries"]
        parsed = doc.get("parsed") if isinstance(doc, dict) else None
        if isinstance(parsed, dict) and "queries" in parsed:
            return parsed["queries"]
        # fall back to scanning the tail text for the compact summary
        # (the last complete JSON line with a "queries" key)
        txt = doc.get("tail", "") if isinstance(doc, dict) else ""
        for line in reversed(txt.strip().splitlines()):
            try:
                d = json.loads(line)
            except Exception:
                continue
            if isinstance(d, dict) and "queries" in d:
                return d["queries"]
        return {}

    def _loadavg(fname: str) -> str:
        with open(os.path.join(REPO, fname)) as f:
            doc = json.load(f)
        for d in (doc, doc.get("parsed") or {}):
            if isinstance(d, dict) and "loadavg_1m_before" in d:
                return f"load {d['loadavg_1m_before']}->{d.get('loadavg_1m_after', '?')}"
        return "load n/a"

    def _load_ok(fname: str) -> bool | None:
        """The run's load_ok verdict (bench.py start-of-run gate, r14).
        None for pre-r14 artifacts that never recorded it — those stay
        comparable (their loadavg prints alongside the deltas)."""
        with open(os.path.join(REPO, fname)) as f:
            doc = json.load(f)
        for d in (doc, doc.get("parsed") or {}):
            if isinstance(d, dict) and "load_ok" in d:
                return bool(d["load_ok"])
        return None

    # never stamp deltas from a run the bench itself marked not
    # comparison-grade (a loaded host inflates rows 1.5-2× into false
    # regressions): skip those artifacts and compare the newest two left
    bad = [f for f in files if _load_ok(f) is False]
    if bad:
        print(
            f"skipping {', '.join(bad)}: recorded load_ok=false "
            "(host loaded at bench start)"
        )
    files = [f for f in files if f not in bad]
    if len(files) < 2:
        print("(fewer than two comparable BENCH_r*.json files — no deltas to print)")
        return
    prev_f, cur_f = files[-2], files[-1]

    prev, cur = _queries(prev_f), _queries(cur_f)
    # numeric-only (advisor r12): a nested split dict or other non-numeric
    # entry would TypeError in the sort; a 0/negative prev timing would
    # print a meaningless x-billions ratio — skip and label those instead
    def _num(d: dict, n: str) -> bool:
        return isinstance(d.get(n), (int, float)) and not isinstance(d.get(n), bool)

    common = [n for n in cur if _num(cur, n) and _num(prev, n)]
    skipped = [n for n in cur if n in prev and n not in common]
    zero_base = [n for n in common if prev[n] <= 0]
    common = [n for n in common if prev[n] > 0]
    if not common:
        print(f"(no comparable numeric queries between {prev_f} and {cur_f})")
        return
    print(
        f"== warm deltas {prev_f} ({_loadavg(prev_f)}) -> "
        f"{cur_f} ({_loadavg(cur_f)}) (ratio >1 = slower) =="
    )
    rows = sorted(((cur[n] / prev[n], n) for n in common), reverse=True)
    for ratio, n in rows:
        flag = "  <-- check vs its warm spread" if ratio >= 1.5 or ratio <= 0.67 else ""
        print(f"  {n:36s} {prev[n]:8.2f} -> {cur[n]:8.2f}  x{ratio:.2f}{flag}")
    pt, ct = sum(prev[n] for n in common), sum(cur[n] for n in common)
    print(f"  {'TOTAL (common set)':36s} {pt:8.2f} -> {ct:8.2f}  x{ct / max(pt, 1e-9):.2f}")
    for n in zero_base:
        print(f"  {n:36s} zero/negative prev timing — ratio skipped")
    if skipped:
        print(f"  (skipped non-numeric entries: {', '.join(sorted(skipped))})")


def main(argv: list[str]) -> int:
    changed = [a for a in argv if not a.startswith("-")]
    run_all = "--all" in argv
    run_all_sf = "--all-sf" in argv

    print("== 1/3 refresh registry manifest ==", flush=True)
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "update_registry_manifest.py")],
        cwd=REPO,
    )
    if r.returncode != 0:
        print("manifest refresh FAILED", file=sys.stderr)
        return r.returncode

    print("== 2/3 registry ordering contract ==", flush=True)
    r = subprocess.run(
        [sys.executable, "-m", "pytest", "tests/test_registry_order.py", "-q"],
        cwd=REPO,
    )
    if r.returncode != 0:
        print(
            "ordering contract RED: a changed query is parked past the "
            "first-50 window (the refresh cannot green it — rotate the "
            "query into the window in registry.py, then rerun this tool)",
            file=sys.stderr,
        )
        return r.returncode

    print("== 3/3 tri-SF verify (run these, not during a bench) ==", flush=True)
    if changed:
        for sf in SFS:
            print(
                "SPARK_GRAFT_VERIFY_SF_DIR={} python tools/verify_local.py {}".format(
                    sf, " ".join(changed)
                )
            )
    else:
        print(
            "(no changed queries named — pass them as arguments to print "
            "the three verify commands; CLAUDE.md requires all three SFs)"
        )
    if run_all or run_all_sf:
        rc = full_sweep(SFS if run_all_sf else ("/root/testdata/sf0.01",))
        if rc != 0:
            return rc
    bench_deltas()
    print(
        "round_close: manifest + ordering green"
        + (" + full sweep" if run_all or run_all_sf else "")
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
