#!/usr/bin/env python3
"""Run one benchmark workload; the last line of stdout is its result.

    python3 perfbench/run.py --workload ingest_bulk --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20

Run from anywhere inside a checkout; the package is imported from the
checkout that holds this file. ``--trace 0`` prints the end-to-end metrics
named in BENCHMARK.json, ``--trace 1`` the per-layer ones, and both write
a side file ``.perfbench/<workload>-trace<n>.json`` with every op, the
spans of the traced ops, the input sizes, the host anchor and the load
average. All scratch data lives in ``.perfbench/run-<pid>`` and is
removed at exit. See DESIGN.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("ingest_bulk", "read_series_day")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``;
    size the session to the machine's cores as the package expects."""
    tmp, local = work / "tmp", work / "spark-local"
    tmp.mkdir(parents=True)
    local.mkdir()
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(local)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p)


def host_anchor() -> float:
    """Single-thread C-kernel encode of fixed arrays, M points/s (median
    of 5). The code and input never change, so a low reading marks a
    busy host rather than a regression; 0 when the kernel is missing."""
    import numpy as np

    from gorillaspark.codec.native import encode_blocks_native
    n, nb = 100_000, 3
    ts = np.concatenate([np.arange(n, dtype=np.int64) * 60_000 + i * 10**10
                         for i in range(nb)])
    vals = np.tile(np.arange(n, dtype=np.float64), nb).view(np.uint64)
    bts = np.arange(nb, dtype=np.int64) * 10**10
    offs = np.arange(0, nb * n + 1, n, dtype=np.int64)
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        if encode_blocks_native(bts, offs, ts, vals) is None:
            return 0.0
        times.append(time.perf_counter() - t0)
    return nb * n / statistics.median(times) / 1e6


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on stdin
        proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_all(args) -> int:
    """Every workload in turn, each in its own process."""
    code = 0
    for w in WORKLOADS:
        r = subprocess.run([sys.executable, __file__, "--workload", w,
                            "--seed", str(args.seed),
                            "--seconds", str(args.seconds),
                            "--trace", str(args.trace)])
        code = code or r.returncode
    return code


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    if not (ROOT / "gorillaspark" / "__init__.py").is_file():
        print(f"perfbench: no gorillaspark package in {ROOT}",
              file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    out_dir = ROOT / ".perfbench"
    work = out_dir / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    sys.path.insert(0, str(ROOT))

    import workloads
    from gorillaspark.codec.native import NATIVE
    from gorillaspark.plans.session import build_session

    load = [os.getloadavg()[0]]
    steal0, total0 = cpu_times()
    anchor = host_anchor()
    t0 = time.perf_counter()
    spark = build_session(app=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    session_s = time.perf_counter() - t0
    ctx = workloads.Ctx(spark, str(work), args.seed, args.seconds,
                        workloads.Size(), bool(args.trace))
    try:
        outcome = getattr(workloads, args.workload)(ctx)
    finally:
        stop_spark(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
    load.append(os.getloadavg()[0])
    steal1, total1 = cpu_times()
    steal_pct = 100.0 * (steal1 - steal0) / max(total1 - total0, 1)

    outcome.e2e["setup_s"] += session_s
    outcome.layers["host.anchor_encode_mpts"] = anchor
    outcome.layers["host.loadavg"] = max(load)
    outcome.layers["host.cpu_steal_pct"] = steal_pct
    if args.trace:
        wanted, values = spec["per_layer"], outcome.layers
    else:
        wanted, values = spec["end_to_end"], outcome.e2e
    not_exercised = [m["name"] for m in wanted if m["name"] not in values]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in wanted}
    side = {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "native_kernel": NATIVE is not None,
            "host": {"anchor_encode_mpts": anchor, "loadavg": load,
                     "cpu_steal_pct": steal_pct,
                     "cpus": os.environ["SPARK_GRAFT_CPUS"]},
            "session_s": session_s, "end_to_end": outcome.e2e,
            "per_layer": outcome.layers, "not_exercised": not_exercised,
            **outcome.side,
            "spans": ctx.tracer.spans}
    out_dir.mkdir(exist_ok=True)
    (out_dir / f"{args.workload}-trace{args.trace}.json").write_text(
        json.dumps(side, indent=1, default=str))
    tail = outcome.side.get("latency_ms_tail")
    print(f"perfbench {args.workload} seed={args.seed}: "
          f"{outcome.attempted} ops, {outcome.failed} failed; tail "
          f"{'n/a' if tail is None else tail}; anchor {anchor:.1f} Mpts/s;"
          f" loadavg {max(load):.2f}; cpu steal {steal_pct:.1f}%; "
          f"not exercised: {not_exercised}")
    print(json.dumps({"correct": outcome.failed == 0,
                      "attempted": outcome.attempted,
                      "failed": outcome.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
