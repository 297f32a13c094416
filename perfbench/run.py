"""perfbench: the repository benchmark, one command per workload and seed.

    python3 perfbench/run.py --workload filter --seed 1 --seconds 15 --trace 0

Workloads (see README.md in this directory): ``filter`` (the flagship
quality filter), ``resume`` (the runner lifecycle with a simulated crash)
and ``curate`` (the full curation recipe; not in BENCHMARK.json, it does
not fit the benchmark's time budget).

Run from the root of a checkout. The program is imported from the checkout
and fed only parquet that this benchmark generated from ``--seed``. Every
operation's output is checked against the oracle. With ``--trace 0`` the
last stdout line carries the end-to-end metrics; with ``--trace 1`` it
carries the per-layer ledger. Earlier lines print every measured value by
name with its unit, and ``.perfbench_out/`` keeps a JSON record of each
run (host, inputs, metrics, spans). Exits non-zero without a result when
the program cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import host  # noqa: E402

SETUP_ROUNDS = 2  # each launches its own driver JVM, as every new job submission does

END_TO_END = {"docs_per_s": "docs/s", "setup_s": "s"}
# emitted by every workload's traced run (BENCHMARK.json "per_layer")
PER_LAYER = [
    "process.peak_rss_mb", "process.jvm_rss_mb", "process.python_rss_mb",
    "session.start_s", "session.warmup_s",
    "scan.s", "udf_stages.extract_s", "udf_stages.fused_s", "udf_stages.crossing_us",
    "rules.extract_us", "rules.langid_us", "lm.perplexity_us", "rules.scrub_us",
    "heuristics_verdict.s", "pipeline.write_s", "pipeline.bytes_written",
    "pipeline.ledger_gap", "trace.overhead_s",
    "spark.jobs", "spark.tasks", "spark.tasks_failed",
]


@dataclass
class Ctx:
    seed: int
    size: str
    cpus: list
    nproc: int
    work: str


def timed_loop(wl, tr, sampler, seconds: float):
    """Closed loop, one operation at a time, until ``seconds`` have passed
    (at least one operation, at most ``wl.max_ops``)."""
    walls, cpus, peaks = [], [], []
    t_end = time.monotonic() + seconds
    while wl.attempted == 0 or (time.monotonic() < t_end and wl.attempted < wl.max_ops):
        wl.before_op()
        sampler.begin()
        c0 = host.cpu_seconds(host.descendants())
        t0 = time.monotonic()
        try:
            wl.op(tr)
        except Exception:  # noqa: BLE001  (counted as a failed operation)
            sampler.end()
            wl.attempted += 1
            wl.failed += 1
            traceback.print_exc()
            continue
        wall = time.monotonic() - t0
        cpu = host.cpu_seconds(host.descendants()) - c0
        peak = sampler.end()
        if wl.checked(wl.check):
            walls.append(wall)
            cpus.append(cpu)
            peaks.append(peak)
    return walls, cpus, peaks


def rss_parts(led, peak_mb: float, by_pid: dict[int, int]) -> None:
    """Peak RSS of the process tree during the traced run, split into the
    driver JVM and the Python daemon and workers."""
    from pyspark import SparkContext

    jvm = by_pid.get(SparkContext._gateway.proc.pid, 0) / 2**20
    led.put("process.peak_rss_mb", peak_mb, "MB")
    led.put("process.jvm_rss_mb", jvm, "MB")
    led.put("process.python_rss_mb", peak_mb - jvm, "MB")


def med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("filter", "resume", "curate"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "smoke"), default="full")
    a = p.parse_args()

    try:
        import curator_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2

    import sparkctl
    from tracing import Tracer
    from workloads import WORKLOADS, Ledger

    cpus = host.cpus()
    mem = host.meminfo_mb()
    driver_mb = host.driver_mem_mb(mem["MemAvailable"])
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    sparkctl.prepare_env(ROOT, work, driver_mb)
    ctx = Ctx(a.seed, a.size, cpus, len(cpus), work)
    wl = WORKLOADS[a.workload](ctx)

    t0 = time.monotonic()
    wl.prepare()
    phases = {"prepare_s": time.monotonic() - t0}

    sampler = host.RssSampler()
    spark = None
    starts, warms = [], []
    led = Ledger()
    walls, cpus_s, peaks = [], [], []
    try:
        for _ in range(SETUP_ROUNDS):
            if spark is not None:
                sparkctl.shutdown(spark)
                spark = None
            t0 = time.monotonic()
            spark = sparkctl.start(ctx.nproc, work)
            t1 = time.monotonic()
            sparkctl.warmup(spark, ctx.nproc)
            starts.append(t1 - t0)
            warms.append(time.monotonic() - t1)
        wl.spark = spark
        tr = Tracer(spark, enabled=bool(a.trace))
        t0 = time.monotonic()
        wl.warm(a.seconds)
        phases["warm_s"] = time.monotonic() - t0
        t0 = time.monotonic()
        if a.trace:
            sampler.begin()
            wl.ledger(tr, led, a.seconds)
            rss_parts(led, sampler.end(), sampler.peak_by_pid)
            tr.resolve_counts()
            wl.finish_ledger(tr, led)
        else:
            walls, cpus_s, peaks = timed_loop(wl, tr, sampler, a.seconds)
        phases["measure_s"] = time.monotonic() - t0
    finally:
        t0 = time.monotonic()
        sampler.close()
        sparkctl.shutdown(spark)
        phases["shutdown_s"] = time.monotonic() - t0

    setups = [s + w for s, w in zip(starts, warms)]
    if a.trace:
        led.put("session.start_s", med(starts), "s")
        led.put("session.warmup_s", med(warms), "s")
        missing = [n for n in PER_LAYER if n not in led.values]
        if missing:
            print(f"perfbench: ledger lacks {missing}", file=sys.stderr)
            return 1
        names = PER_LAYER
    else:
        led.put("docs_per_s", med([wl.n_rows / w for w in walls]), END_TO_END["docs_per_s"])
        led.put("setup_s", med(setups), END_TO_END["setup_s"])
        led.put("docs_per_cpu_s", med([wl.n_rows / c for c in cpus_s]), "docs/cpu-s")
        # reported, not gated: see README.md
        led.put("peak_rss_mb", med(peaks), "MB")
        names = list(END_TO_END)

    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "size": a.size,
        "seconds": a.seconds,
        "host": {"cpus": len(cpus), "affinity": cpus, "mem_total_mb": mem["MemTotal"],
                 "mem_available_mb": mem["MemAvailable"], "driver_mem_mb": driver_mb},
        "input": {"rows": wl.n_rows, "bytes": wl.pages.n_bytes, "files": len(wl.pages.files)},
        "phases": phases, "setup_rounds_s": setups, "op_walls_s": walls, "op_cpu_s": cpus_s,
        "op_peak_rss_mb": peaks, "attempted": wl.attempted, "failed": wl.failed,
        "check": wl.check_info,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(led.values.items())},
    }
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    tr.write(os.path.join(out_dir, f"{tag}.spans.json"), {"workload": a.workload, "seed": a.seed})
    shutil.rmtree(work, ignore_errors=True)

    print(f"perfbench host cpus={len(cpus)} mem_total_mb={mem['MemTotal']} "
          f"driver_mem_mb={driver_mb} seed={a.seed} input_rows={wl.n_rows} "
          f"input_bytes={wl.pages.n_bytes} ops={wl.attempted} failed={wl.failed}")
    for k, (v, u) in sorted(led.values.items()):
        print(f"perfbench {k} = {v} {u}")
    print(json.dumps({
        "correct": wl.failed == 0 and wl.attempted > 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": led.values[k][0], "unit": led.values[k][1]} for k in names},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
