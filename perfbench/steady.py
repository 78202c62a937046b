"""Steadiness mode: repeat one workload over several seeds and print, per
metric, the run-to-run spread against the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload ann_ingest --seeds 1-10
    python3 perfbench/steady.py --workload ann_ingest --seeds 1-2 --trace
    python3 perfbench/steady.py --workload ann_ingest --seeds 1-3 --overhead
    python3 perfbench/steady.py --workload ann_ingest --seeds 1-5 --drift-out perfbench/drift.json

Run from the root of a checkout. Runs are sequential, one `run.py` process
at a time. The spread of a metric is (q3 - q1) / median over the runs, with
the quartiles of `statistics.quantiles(values, n=4)`; a metric is steady
when its spread is below a third of its bound.

`--trace` makes traced runs and reports every job / task count that differs
between them (counts must repeat exactly). `--overhead` makes an untraced
and a traced run per seed and prints traced minus untraced end-to-end
numbers. `--drift-out` merges the median per-request latency curve, warm-up
requests included, into a JSON file under the workload's name.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
CHECKOUT = HERE.parent


def _seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=CHECKOUT, capture_output=True, text=True, check=False)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"run.py failed for seed {seed} (exit {proc.returncode})")
    return json.loads(lines[-2])["provenance"], json.loads(lines[-1])


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def report(metrics: list[dict], results: list[dict]) -> bool:
    steady = True
    print(f"{'metric':<26}{'unit':<9}{'better':<8}{'median':>12}{'q1':>12}{'q3':>12}"
          f"{'spread':>9}{'bound':>7}  verdict")
    for m in metrics:
        values = [r["metrics"][m["name"]]["value"] for r in results]
        med, q1, q3, sp = spread(values)
        bound = m["bound"]
        verdict = "steady" if sp < bound / 3 else ("within bound" if sp <= bound else "TOO NOISY")
        if m["name"] != "setup_s":
            steady &= sp < bound / 3
        print(f"{m['name']:<26}{m['unit']:<9}{m['better']:<8}{med:>12.5g}{q1:>12.5g}{q3:>12.5g}"
              f"{sp:>9.4f}{bound:>7.3f}  {verdict}")
    return steady


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", type=int, help="defaults to run_seconds in BENCHMARK.json")
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--overhead", action="store_true")
    ap.add_argument("--drift-out")
    args = ap.parse_args(argv)

    bench = json.loads((CHECKOUT / "BENCHMARK.json").read_text())
    seconds = args.seconds or bench["run_seconds"]
    seeds = _seeds(args.seeds)
    runs, traced = [], []
    for seed in seeds:
        if not args.trace:
            runs.append(run_once(args.workload, seed, seconds, 0))
            prov, res = runs[-1]
            print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']} requests={len(prov['latencies'])} "
                  f"load={prov['load_before'][0]:.2f}->{prov['load_after'][0]:.2f} "
                  f"steal={prov.get('cpu_steal_share')} "
                  + " ".join(f"{k}={v['value']}" for k, v in res["metrics"].items())
                  + " latencies=" + ",".join(f"{x:.2f}" for x in prov["warmup_latencies"] + prov["latencies"]),
                  flush=True)
        if args.trace or args.overhead:
            traced.append(run_once(args.workload, seed, seconds, 1))
            res = traced[-1][1]
            print(f"seed {seed} traced: correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']}", flush=True)

    ok = True
    if runs:
        results = [r for _p, r in runs]
        ok = all(r["correct"] for r in results)
        if len(runs) >= 2:
            ok &= report(bench["end_to_end"], results)
    if traced:
        results = [r for _p, r in traced]
        ok &= all(r["correct"] for r in results)
        for m in bench["per_layer"]:
            values = [r["metrics"][m["name"]]["value"] for r in results]
            if any(values):
                print(f"{m['name']:<44}{m['unit']:<7}" + " ".join(f"{v:>12.5g}" for v in values))
        counts = [m["name"] for m in bench["per_layer"] if m["unit"] == "count"]
        varying = [c for c in counts if len({r["metrics"][c]["value"] for r in results}) > 1]
        print("count metrics that differ between traced runs:", varying or "none")
        ok &= not varying
    if args.overhead:
        for name in ("setup_s", "request_p50_s"):
            diffs = [t["metrics"][f"traced.{name}"]["value"] - u["metrics"][name]["value"]
                     for (_p, u), (_q, t) in zip(runs, traced)]
            base = statistics.median(u["metrics"][name]["value"] for _p, u in runs)
            print(f"tracing overhead {name}: median {statistics.median(diffs):+.4f} s "
                  f"({statistics.median(diffs) / base:+.1%} of untraced), per seed "
                  + " ".join(f"{d:+.3f}" for d in diffs))
    if args.drift_out and runs:
        curves = [p["warmup_latencies"] + p["latencies"] for p, _r in runs]
        n = min(len(c) for c in curves)
        path = Path(args.drift_out)
        doc = json.loads(path.read_text()) if path.exists() else {}
        doc[args.workload] = {
            "seeds": seeds,
            "seconds": seconds,
            "warmup": len(runs[0][0]["warmup_latencies"]),
            "median_request_s": [round(statistics.median(c[i] for c in curves), 4) for i in range(n)],
        }
        path.write_text(json.dumps(doc, indent=1) + "\n")
        print(f"drift curve for {args.workload} written to {path}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
