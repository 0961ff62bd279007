#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/README.md for why each exists):

- ``crawl_polite``      budgeted crawl, stopped after one epoch and
                        resumed by a fresh engine for the next
- ``queries_headline``  bench.py's 15 headline queries over seeded tables

Each run starts one Spark session on ``local[nproc]`` with bench.py's
settings (64 shuffle partitions), sets its inputs up from the seed,
runs the workload's operations one at a time (a closed loop with one
client), checks its outputs outside the timed windows, and prints the
result as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns the
Spark event log on and reports the per-layer metrics instead. The line
before it holds the workload's own numbers (``detail``) and the host
context. Everything the run writes stays under the checkout:
``.perfbench_work/`` while it runs, ``.perfbench_out/`` for the record
of each run (metrics, host context, spans and per-call Spark totals).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parents[1]
WORKLOADS = ["crawl_polite", "queries_headline"]
# the engine sources a run needs; without them the benchmark refuses
REQUIRED = [
    "webscrape_neko_jirushi_spark/__init__.py",
    "__spark_entry__.py",
    "bench.py",
    "tools/check_oracle.py",
]
SETUP_REPEATS = 3

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "items_per_s": "1/s",
}
PER_LAYER = {
    "session.start_s": "s",
    "inputs.gen_s": "s",
    "inputs.persist_s": "s",
    "op.count": "count",
    "op.before_write_s": "s",
    "op.write_s": "s",
    "op.before_write_jobs": "count",
    "op.write_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.python_task_share": "ratio",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
}


@dataclass
class Context:
    workload: str
    seed: int
    scale: str
    trace: bool
    work: Path
    cores: int
    setup_repeats: int = SETUP_REPEATS
    spark: object = None
    tracer: object = None


def _process_age_s() -> float:
    """Seconds since this process started (interpreter start-up
    included), from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


AGE_AT_START = _process_age_s()


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    # part of the command's interface, and ignored: a run is one fixed
    # unit of work (one crawl, one pass over the queries), so a change is
    # compared with its parent on the same work on any host
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=[0, 1])
    # for the benchmark's own tests: a tiny input, and a corrupted output
    p.add_argument("--scale", default="full", choices=["full", "tiny"], help=argparse.SUPPRESS)
    p.add_argument("--inject-fault", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in REQUIRED if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: engine sources missing from {ROOT}: {missing}", file=sys.stderr)
        return 2

    sys.path.insert(0, str(ROOT))
    from perfbench import harness

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    load_before, cpu_before = harness.loadavg(), harness.cpu_times()
    ctx = Context(
        workload=args.workload,
        seed=args.seed,
        scale=args.scale,
        trace=bool(args.trace),
        work=work,
        cores=len(os.sched_getaffinity(0)),
    )
    sampler = harness.RssSampler().start()
    try:
        record = run(ctx, args, harness, sampler, load_before, cpu_before)
    finally:
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)

    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}.json"
    (out_dir / name).write_text(json.dumps(record, indent=1, default=str))
    print(json.dumps({"detail": record["detail"], "host": record["host"]}, default=str))
    print(json.dumps(record["result"]))
    return 0


def run(ctx, args, harness, sampler, load_before, cpu_before) -> dict:
    from webscrape_neko_jirushi_spark.session import get_spark

    mod = importlib.import_module(f"perfbench.{ctx.workload}")
    # bench.py puts spark.local.dir and its crawl state on /dev/shm; a run
    # of this benchmark keeps every file inside its checkout instead
    # (perfbench/README.md gives the cost on the crawl)
    conf = {
        "spark.local.dir": str(ctx.work / "spark-local"),
        "spark.sql.warehouse.dir": str(ctx.work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.work / 'tmp'}",
    }
    if ctx.trace:
        conf.update(harness.event_log_conf(ctx.work / "eventlog"))
    spark = get_spark(f"perfbench-{ctx.workload}", cores=ctx.cores, shuffle_partitions=64,
                      extra_conf=conf)
    session_s = AGE_AT_START + time.perf_counter() - T_START
    sc = spark.sparkContext
    jvm = sc._gateway.proc
    try:
        ctx.spark, ctx.tracer = spark, harness.Tracer(sc)
        if hasattr(mod, "instrument"):
            mod.instrument(ctx.tracer)
        prepared = mod.setup(ctx)
        setup_reps = [g + p for g, p in zip(prepared["gen_s"], prepared["persist_s"])]
        setup_s = session_s + statistics.median(setup_reps) + prepared.get("warmup_s", 0.0)

        measured = mod.measure(ctx, prepared)
        peak_rss_mb = sampler.stop()

        t_check = time.perf_counter()
        if args.inject_fault:
            mod.corrupt(ctx, measured)
        try:
            checks = mod.check(ctx, prepared, measured)
        except Exception as e:  # noqa: BLE001 - a check that raises is a failed check
            traceback.print_exc()
            checks = [("check raised", False, repr(e))]
        check_s = time.perf_counter() - t_check
        for name, ok, note in checks:
            print(f"perfbench: {'ok  ' if ok else 'FAIL'} {name} ({note})", file=sys.stderr)
    finally:
        spark.stop()
        sc._gateway.shutdown()
        jvm.stdin.close()
        jvm.wait(timeout=60)
        if not harness.wait_for_children(30):
            print("perfbench: child processes still running after Spark stopped", file=sys.stderr)

    log = harness.read_event_log(ctx.work / "eventlog") if ctx.trace else None
    ops, wall = measured["op_s"], measured["wall_s"]
    attempted = measured["attempted"] + len(checks)
    failed = measured["raised"] + sum(1 for _, ok, _ in checks if not ok)

    end_to_end = {
        "setup_s": setup_s,
        "wall_s": wall,
        "op_p50_s": statistics.median(ops) if ops else 0.0,
        "items_per_s": measured["items"] / wall if wall else 0.0,
    }
    layer = mod.layers(ctx, measured, log)
    generic = {
        "session.start_s": session_s,
        "inputs.gen_s": statistics.median(prepared["gen_s"]),
        "inputs.persist_s": statistics.median(prepared["persist_s"]),
        "op.count": len(ops),
        "op.before_write_s": layer["op.before_write_s"],
        "op.write_s": layer["op.write_s"],
    }
    if log is not None:
        totals = harness.spark_totals(log, mod.OP_PREFIXES)
        generic.update({f"spark.{k}": v for k, v in totals.items()})
        generic["op.before_write_jobs"] = layer["op.before_write_jobs"]
        generic["op.write_jobs"] = layer["op.write_jobs"]
        generic["spark.jobs_per_op"] = totals["jobs"] / max(1, len(ops))
        generic["spark.tasks_per_op"] = totals["tasks"] / max(1, len(ops))

    declared = PER_LAYER if ctx.trace else END_TO_END
    values = {**end_to_end, **generic}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in declared.items()},
    }
    detail = {
        **mod.detail(ctx, prepared, measured),
        "end_to_end": end_to_end,
        "peak_rss_mb": peak_rss_mb,
        "error_rate": failed / attempted,
        "check_s": check_s,
        "run_s": _process_age_s(),
        "setup_repeats_s": setup_reps,
        "checks": [{"check": n, "ok": ok, "note": note} for n, ok, note in checks],
        "layers": {**generic, **layer},
    }
    return {
        "args": vars(args),
        "result": result,
        "detail": detail,
        "host": harness.host_context(ROOT, load_before, cpu_before),
        "spans": ctx.tracer.spans if ctx.trace else None,
    }


if __name__ == "__main__":
    sys.exit(main())
