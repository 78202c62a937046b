"""Benchmark entry point: run one workload for one seed and print one JSON
result as the last line of standard output.

    python3 perfbench/run.py --workload regulatory_etl --seed 1 --seconds 12 --trace 0

Run from the root of a checkout: the program under test is the
`scripts_toolkit_spark` package next to this directory, imported from
source. Every run gets a fresh directory under `.perfbench_runs/` holding
its inputs, stores, outputs, Spark local and temp dirs; it is deleted at
exit, so no state carries from one run to the next.

A run: generate inputs (untimed) -> set up `setup_cycles` times, each a fresh
session plus the workload's set-up (median = `setup_s`) -> `warmup` requests
-> closed-loop requests for `--seconds` -> end-of-run work -> stop Spark.
Every request's output is checked against the generator's truth; a request
that raises or fails a check counts in `failed`.

`--trace 0` reports the end-to-end metrics; `--trace 1` installs the span
wrappers of `tracing.py`, turns on Spark's event log and reports per-layer
metrics instead. See README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
CHECKOUT = HERE.parent
_ENV_KEYS = (
    "SPARK_GRAFT_CPUS", "OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
    "ARROW_NUM_THREADS", "SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_DRIVER_MEM",
)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_jiffies() -> list[int]:
    """The host's aggregate CPU counters (user ... steal); empty off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return []


def _steal_share(before: list[int], after: list[int]) -> float | None:
    """Share of CPU time the hypervisor gave to other guests in between."""
    if len(before) < 8 or len(after) < 8:
        return None
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else None


def _isolate(run_root: Path, trace: bool) -> None:
    """Point every directory Spark, the JVM and Python write to into the
    run's own root. Must run before the JVM starts."""
    import tempfile

    import tracing as T

    tmp = run_root / "tmp"
    for d in ("tmp", "spark-local", "checkpoints", "eventlog"):
        (run_root / d).mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    # Python workers import the package from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(CHECKOUT), os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_LOCAL_DIRS"] = str(run_root / "spark-local")
    os.environ["SPARK_GRAFT_CHECKPOINT_DIR"] = str(run_root / "checkpoints")
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"])
    )
    submit = [
        "--conf", f"spark.sql.warehouse.dir=file://{run_root}/warehouse",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        submit += T.event_log_conf(str(run_root / "eventlog"))
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM the session launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - the JVM must not outlive the run
            proc.kill()
            proc.wait()


def _provenance(args, spark) -> dict:
    import pyspark

    return {
        "seed": args.seed,
        "workload": args.workload,
        "nproc": _nproc(),
        "env": {k: os.environ.get(k) for k in _ENV_KEYS},
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }


def _or_nan(measure) -> float:
    """A metric whose output is missing (the program failed) reads NaN."""
    try:
        return measure()
    except (AttributeError, OSError, ZeroDivisionError):
        traceback.print_exc(file=sys.stderr)
        return math.nan


def run(args, run_root: Path) -> tuple[dict, dict]:
    import workloads as W
    from tracing import Tracer, parse_event_logs

    from scripts_toolkit_spark.session import get_spark

    trace = bool(args.trace)
    tracer = Tracer() if trace else None
    phases: dict[str, float] = {}  # seconds from run start to each phase's end
    t_run = time.perf_counter()
    wl = W.WORKLOADS[args.workload](str(run_root / "work"), args.seed)
    wl.prepare()
    phases["prepare"] = time.perf_counter() - t_run
    load_before = os.getloadavg()
    cpu_before = _cpu_jiffies()
    if tracer:
        tracer.install()

    setup_times: list[float] = []
    warm: list[float] = []
    measured: list[float] = []
    rates: list[float] = []  # items per second of each measured request
    attempted = failed = 0
    spark = None

    def one(i: int, into: list[float]) -> None:
        nonlocal attempted, failed
        attempted += 1
        try:
            staged = wl.stage(spark, i)
            t0 = time.perf_counter()
            out = wl.request(spark, i, staged)
            dt = time.perf_counter() - t0
            n = wl.check(spark, out)
            into.append(dt)
            if into is measured:
                rates.append(n / dt)
        except Exception:  # noqa: BLE001 - a failed request is counted, the loop goes on
            failed += 1
            traceback.print_exc(file=sys.stderr)

    try:
        for cycle in range(wl.setup_cycles):
            if spark is not None:
                if tracer:
                    tracer.collect_counts(spark.sparkContext)
                spark.stop()
            t0 = time.perf_counter()
            if tracer:
                with tracer.span("session.get_spark"):
                    spark = get_spark()
            else:
                spark = get_spark()
            wl.setup(spark, cycle)
            setup_times.append(time.perf_counter() - t0)
        info = _provenance(args, spark)
        phases["setup"] = time.perf_counter() - t_run

        for i in range(wl.warmup):
            one(i, warm)
        phases["warmup"] = time.perf_counter() - t_run
        deadline = time.perf_counter() + args.seconds
        i = wl.warmup
        while time.perf_counter() < deadline or len(measured) < wl.min_requests:
            one(i, measured)
            i += 1
            if failed > max(3, attempted // 2):  # a broken program never fills min_requests
                break
        phases["measure"] = time.perf_counter() - t_run
        try:
            wl.finish(spark)
        except Exception:  # noqa: BLE001 - counted like a failed request
            failed += 1
            attempted += 1
            traceback.print_exc(file=sys.stderr)
        if tracer:
            tracer.collect_counts(spark.sparkContext)
        phases["finish"] = time.perf_counter() - t_run
    finally:
        if spark is not None:
            _stop_spark(spark)
    phases["stop"] = time.perf_counter() - t_run

    bench = json.loads((CHECKOUT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    setup_s = statistics.median(setup_times)
    p50 = statistics.median(measured) if measured else math.nan
    if trace:
        metrics = tracer.table(parse_event_logs(str(run_root / "eventlog")))
        metrics["traced.setup_s"] = setup_s
        metrics["traced.request_p50_s"] = p50
    else:
        metrics = {
            "setup_s": setup_s,
            "request_p50_s": p50,
            "items_per_s": statistics.median(rates) if rates else math.nan,
            "recall": wl.recall(),
            "store_bytes_per_raw_byte": _or_nan(wl.store_bytes_per_raw_byte),
            "ok_ratio": (attempted - failed) / attempted,
        }
    info.update(
        load_before=load_before,
        load_after=os.getloadavg(),
        cpu_steal_share=_steal_share(cpu_before, _cpu_jiffies()),
        samples=len(measured),
        better={m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]},
        setup_times=setup_times,
        phases=phases,
        warmup_latencies=warm,
        latencies=measured,
    )
    result = {
        "correct": failed == 0 and all(math.isfinite(v) for v in metrics.values()),
        "attempted": attempted,
        "failed": failed,
        # a metric the failed program left unmeasured prints as null
        "metrics": {
            k: {"value": v if math.isfinite(v) else None, "unit": units[k]} for k, v in metrics.items()
        },
    }
    return info, result




def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [str(HERE), str(CHECKOUT)]
    try:
        import scripts_toolkit_spark
    except ImportError as ex:
        print(f"cannot import scripts_toolkit_spark from {CHECKOUT}: {ex}", file=sys.stderr)
        return 2
    if Path(scripts_toolkit_spark.__file__).resolve().parent.parent != CHECKOUT:
        print(f"scripts_toolkit_spark resolved outside {CHECKOUT}", file=sys.stderr)
        return 2
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2

    run_root = CHECKOUT / ".perfbench_runs" / f"{os.getpid()}-{time.time_ns()}"
    # on SIGTERM, unwind through the finally blocks: stop the JVM, delete the run root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        _isolate(run_root, bool(args.trace))
        info, result = run(args, run_root)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
        try:
            run_root.parent.rmdir()
        except OSError:
            pass
    print(json.dumps({"provenance": info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
