"""Workload ``queries_headline``: the 15 headline queries of ``bench.py``.

Same list, order, warm-up query and per-query clean-up as ``bench.py``
(``HEADLINE`` and ``run_query`` are imported from it), over a table set
generated from the workload seed (``tables.py``). Each timed query is
exactly ``run_query`` on the DataFrame the builder returns. Spans split
it into construction (the builder call, including any eager jobs it
runs) and execution (the ``noop`` write's ``save`` call); a traced run
also plans the built DataFrame between the two.

Outside the timed window, the queries this run checks (two, chosen by
the seed, so that any eight consecutive seeds check all 15) are built
and run again, collected and compared with their DuckDB twins
(``__spark_entry__.oracle_sql``) by columns, row count and the
order-insensitive hash of ``tools/check_oracle.py``.
"""

from __future__ import annotations

import statistics
import time
import traceback

import duckdb
from pyspark.sql.readwriter import DataFrameWriter

import __spark_entry__ as entry
from bench import HEADLINE, run_query
from tools.check_oracle import table_hash

from . import tables
from .harness import per_name_totals, spark_totals

WARMUP = "per_group_rollup"
OP_PREFIXES = ("query:",)
CHECKED_PER_RUN = 2
SIZES = {"full": None, "tiny": {
    "customer": 150, "supplier": 10, "part": 200, "orders": 1500,
    "lineitem": 6000, "events": 1000, "documents": 60, "embeddings": 60,
}}


def instrument(tracer) -> None:
    """A span around every ``DataFrameWriter.save`` call: the ``noop``
    write ``run_query`` times."""
    tracer.wrap(DataFrameWriter, "save", "exec")


def checked(seed: int) -> list[str]:
    """The headline queries a run with ``seed`` checks: consecutive ones
    in ``HEADLINE`` order, starting at a position the seed sets."""
    start = seed * CHECKED_PER_RUN
    return [HEADLINE[(start + i) % len(HEADLINE)] for i in range(CHECKED_PER_RUN)]


def setup(ctx) -> dict:
    """Table generation and the parquet write, repeated
    ``ctx.setup_repeats`` times, then ``bench.py``'s untimed warm-up
    query on the last copy."""
    gen_s, persist_s = [], []
    for rep in range(ctx.setup_repeats):
        t0 = time.perf_counter()
        tbls = tables.generate(ctx.seed, SIZES[ctx.scale])
        t1 = time.perf_counter()
        sf_dir = tables.write(tbls, ctx.work / f"tables{rep}")
        persist_s.append(time.perf_counter() - t1)
        gen_s.append(t1 - t0)
    with ctx.tracer.span("warmup") as sp:
        run_query(ctx.spark, entry.queries()[WARMUP], sf_dir)
    return {"sf_dir": sf_dir, "gen_s": gen_s, "persist_s": persist_s, "warmup_s": sp["dur"]}


def measure(ctx, prepared: dict) -> dict:
    """``run_query`` per headline query, in ``HEADLINE`` order. Each
    query's phases are the spans its builder and its write ran in."""
    spark, tracer, sf_dir = ctx.spark, ctx.tracer, prepared["sf_dir"]
    queries = entry.queries()
    per_query = {}
    raised = 0
    for name in HEADLINE:

        def build(spark_, sf, name=name):
            with tracer.span("construct"):
                df = queries[name](spark_, sf)
            if ctx.trace:
                with tracer.span("plan"):
                    df._jdf.queryExecution().executedPlan()
            return df

        with tracer.span(f"query:{name}") as q:
            try:
                wall = run_query(spark, build, sf_dir)
            except Exception:  # noqa: BLE001 - a raised query is counted, not fatal
                traceback.print_exc()
                raised += 1
                continue
        parts = {"wall_s": wall, "construct_s": 0.0, "plan_s": 0.0, "exec_s": 0.0}
        for k in tracer.spans[q["id"] + 1:]:
            if k["parent"] == q["id"]:
                parts[f"{k['name']}_s"] += k["dur"]
        per_query[name] = parts

    walls = [p["wall_s"] for p in per_query.values()]
    return {
        "per_query": per_query,
        "wall_s": sum(walls),
        "op_s": walls,
        "items": len(walls),
        "attempted": len(HEADLINE),
        "raised": raised,
    }


def corrupt(ctx, run: dict) -> None:
    """Fault injection for the benchmark's own tests: alter one row of
    the first checked query's result."""
    run["corrupt"] = checked(ctx.seed)[0]


def _altered(rows: list[tuple], width: int) -> list[tuple]:
    if not rows:
        return [("~",) * width]
    first, cell = list(rows[0]), rows[0][0]
    if isinstance(cell, (int, float)) and not isinstance(cell, bool):
        first[0] = cell + 1
    elif isinstance(cell, str):
        first[0] = cell + "~"
    else:
        first[0] = "~"
    return [tuple(first)] + rows[1:]


def check(ctx, prepared: dict, run: dict) -> list[tuple[str, bool, str]]:
    """The checked queries, run again and collected, against their
    DuckDB twins: same columns, row count and order-insensitive hash."""
    sf_dir = prepared["sf_dir"]
    queries, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in tables.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = []
        for name in checked(ctx.seed):
            label = f"{name} equals its DuckDB twin"
            try:
                with ctx.tracer.span(f"check:{name}"):
                    df = queries[name](ctx.spark, sf_dir)
                    cols, rows = df.columns, [tuple(r) for r in df.collect()]
            except Exception as e:  # noqa: BLE001 - a query that raises fails its check
                traceback.print_exc()
                out.append((label, False, f"raised {e!r}"))
                continue
            if run.get("corrupt") == name:
                rows = _altered(rows, len(cols))
            cur = con.execute(oracles[name])
            dcols = [d[0] for d in cur.description]
            got, want = table_hash(rows, cols), table_hash(cur.fetchall(), dcols)
            out.append((
                label,
                sorted(cols) == sorted(dcols) and got == want,
                f"{got[0]} vs {want[0]} rows",
            ))
        return out
    finally:
        con.close()


def detail(ctx, prepared: dict, run: dict) -> dict:
    """The workload's own numbers."""
    walls = run["op_s"]
    return {
        "queries_total_s": run["wall_s"],
        "query_p50_s": statistics.median(walls) if walls else 0.0,
        "query_max_s": max(walls) if walls else 0.0,
        "warmup_s": prepared["warmup_s"],
        "checked": checked(ctx.seed),
    }


def layers(ctx, run: dict, log: dict | None) -> dict:
    """Construction, planning and execution per query and in total; the
    largest gap between a query's wall time and the sum of its three
    phases; on a traced run also the jobs each phase ran."""
    pq = run["per_query"]
    out = {
        "query.construct_s": sum(p["construct_s"] for p in pq.values()),
        "query.plan_s": sum(p["plan_s"] for p in pq.values()),
        "query.exec_s": sum(p["exec_s"] for p in pq.values()),
        "query.phase_gap_max": max(
            (abs(1.0 - (p["construct_s"] + p["plan_s"] + p["exec_s"]) / p["wall_s"])
             for p in pq.values()),
            default=0.0,
        ),
    }
    out["op.before_write_s"] = out["query.construct_s"] + out["query.plan_s"]
    out["op.write_s"] = out["query.exec_s"]
    for name, p in pq.items():
        for k, v in p.items():
            out[f"query.{name}.{k}"] = v
    if log is not None:
        phase_jobs = {
            ph: spark_totals(log, tuple(f"query:{n}/{ph}" for n in pq))["jobs"]
            for ph in ("construct", "plan", "exec")
        }
        out.update({f"query.{ph}_jobs": n for ph, n in phase_jobs.items()})
        out["op.before_write_jobs"] = phase_jobs["construct"] + phase_jobs["plan"]
        out["op.write_jobs"] = phase_jobs["exec"]
        for name in pq:
            for ph in ("construct", "exec"):
                out[f"query.{name}.{ph}_jobs"] = spark_totals(log, (f"query:{name}/{ph}",))["jobs"]
        out["spark.per_call"] = per_name_totals(log, ["construct", "plan", "exec"])
    return out
