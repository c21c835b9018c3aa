"""Benchmark of the t_spoon_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload bank_contended --seed 1 --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` wraps the
engine's layers in spans and reports the per-layer metrics instead (see
README.md).  The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``; the lines before
it start with ``#``: the environment, the host's CPU steal during the
workload, and the workload's own end-to-end metrics (``txn_tps``,
``commit_p50_ms``, ``query_p50_ms``, ``analytics_s`` ...) with their
units.  ``--scale tiny`` runs the same workloads on toy sizes (used by
the tests).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOAD_NAMES = ("bank_steady", "bank_contended", "serve_durable", "analytics")
TX_WORKLOADS = ("bank_steady", "bank_contended", "serve_durable")
# the heap is fixed and pre-touched, so peak RSS does not depend on when
# the JVM decides to grow its heap
DRIVER_MEM = "1g"


def parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full")
    return p.parse_args(argv)


def n_cpus() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: Path, workload: str) -> dict[str, str]:
    """Fix everything the engine reads from the environment and return
    the Spark conf for this workload.  All scratch space lives under
    ``work`` inside the checkout."""
    tmp = work / "tmp"
    for d in (tmp, work / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    for k in [k for k in os.environ if k.startswith("TSPOON_")]:
        del os.environ[k]  # engine toggles stay at their defaults
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(n_cpus()),
            "SPARK_LOCAL_DIRS": str(work / "spark-local"),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "TMPDIR": str(tmp),
        }
    )
    tempfile.tempdir = str(tmp)
    # the txn epochs are small control-plane jobs, where adaptive
    # re-planning only adds driver time; the analytics entries are tuned
    # with it on
    aqe = "false" if workload in TX_WORKLOADS else "true"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.adaptive.enabled": aqe,
        "spark.sql.shuffle.partitions": str(n_cpus()),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # keep every job in the status store for the traced run's reader
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def environment(args: argparse.Namespace) -> dict:
    import pyspark

    digest = hashlib.sha256()
    for path in sorted((ROOT / "t_spoon_spark").rglob("*.py")):
        digest.update(str(path.relative_to(ROOT)).encode())
        digest.update(path.read_bytes())
    try:
        commit = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "nproc": n_cpus(),
        "git_commit": commit,
        "engine_sha256": digest.hexdigest(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "driver_mem": DRIVER_MEM,
    }


def cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks of the machine so far, from /proc/stat.
    Steal is time the hypervisor gave this VM's CPUs to someone else."""
    try:
        with open("/proc/stat") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return sum(ticks), ticks[7] if len(ticks) > 7 else 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of this process plus the Spark JVM, from /proc."""
    pids = [os.getpid()]
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(proc.pid)
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            kb += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=60)


def metric_units(spec: dict, key: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in spec[key]}


def with_units(values: dict[str, float], units: dict[str, str]) -> dict:
    missing = set(units) ^ set(values)
    if missing:
        raise RuntimeError(f"metrics and BENCHMARK.json disagree on {sorted(missing)}")
    return {k: {"value": float(values[k]), "unit": units[k]} for k in units}


def main(argv: list[str] | None = None) -> int:
    args = parse(argv)
    spec_path = ROOT / "BENCHMARK.json"
    if not (ROOT / "t_spoon_spark").is_dir() or not spec_path.is_file():
        print(f"perfbench: no t_spoon_spark engine or BENCHMARK.json under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads(spec_path.read_text())
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    conf = pin_environment(work, args.workload)
    sys.path.insert(0, str(ROOT))

    import layers
    import tracing
    import workloads
    from t_spoon_spark.session import build_spark

    print("# env " + json.dumps(environment(args)), flush=True)
    spark = None
    try:
        t = time.time()
        spark = build_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        build_s = time.time() - t
        tracer = None
        if args.trace:
            tracer = tracing.Tracer(spark)
            layers.install(tracer)
        ctx = workloads.Ctx(spark, args.seed, args.seconds, args.scale, str(work), tracer)
        ticks = cpu_ticks()
        out = workloads.WORKLOADS[args.workload](ctx)
        total, stolen = (b - a for a, b in zip(ticks, cpu_ticks()))
        # every time-based figure slows with steal: runs under heavy steal
        # are not comparable with quiet ones
        print("# host " + json.dumps({"steal_pct": 100.0 * stolen / max(1, total)}), flush=True)
        end_to_end = {
            "setup_s": build_s + out.gen_s + out.warm_s,
            "op_p50_ms": out.op_p50_ms,
            "op_p90_ms": out.op_p90_ms,
            "peak_rss_mb": peak_rss_mb(spark),
        }
        named = {k: out.named[k] for k in workloads.NAMED_UNITS if k in out.named}
        named.update(setup_s=end_to_end["setup_s"], peak_rss_mb=end_to_end["peak_rss_mb"])
        units = {**workloads.NAMED_UNITS, **metric_units(spec, "end_to_end")}
        print("# metrics " + json.dumps({k: {"value": v, "unit": units[k]} for k, v in named.items()}), flush=True)
        if tracer is not None:
            tracer.unwrap_all()
            # traced minus untraced end-to-end values = tracing overhead
            print("# traced end-to-end " + json.dumps(end_to_end), flush=True)
            units = metric_units(spec, "per_layer")
            metrics = with_units(layers.compute(tracer, out, build_s, list(units)), units)
            spans_dir = ROOT / ".perfbench_out"
            spans_dir.mkdir(exist_ok=True)
            tracer.dump(str(spans_dir / f"spans-{args.workload}-seed{args.seed}.jsonl"))
        else:
            metrics = with_units(end_to_end, metric_units(spec, "end_to_end"))
        for reason in out.checks:
            print(f"perfbench: check failed: {reason}", file=sys.stderr)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": out.failed == 0 and not out.checks,
        "attempted": int(out.attempted),
        "failed": int(out.failed),
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
