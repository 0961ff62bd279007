"""Per-host politeness: budget selection + token-bucket schedule
(SURVEY.md §2.9 T3/T4, §4.2 skew strategy).

The reference enforces politeness with driver-side sleeps in a
sequential loop (config.py:8-9 2s; comprehensive_scraper.py:328-331
3-7s/page, :252 0.5-1.5s/image; smart_cat_discovery.py:314-315) — one
host, one thread, ~0.2 pages/s. The engine keeps the *invariant*
(per-host: ≤ budget fetches per epoch, ≥ min_delay between fetches)
while parallelizing across hosts AND across salt shards within a host:

1. ``select_budget_annotated``: per (host, epoch) mark the top
   ``max_per_epoch`` pending URLs by (depth, priority, url_hash) as
   ``chosen`` (the rest are deferred); assign each a slot
   k = 0..B-1 and a virtual ``scheduled_ms = k * min_delay_ms`` — the
   per-host token-bucket schedule.
2. ``salt_for_parallelism``: shard = slot % n_salts. Shard i's slots
   are {i, i+S, i+2S, ...}, so the UNION of all shards' schedules is
   still exactly min_delay-spaced — one host's politeness budget is
   split across salt shards without violating the per-host delay
   (SURVEY §7.2 "single-host skew vs politeness" crux).

The schedule is virtual (tests assert spacing/caps arithmetically);
``enforce_wall_clock=True`` in the fetcher sleeps to it for real crawls.
Robots rules ride along as a broadcast map host -> (prefix, allowed)
rules, resolved longest-prefix-wins (RFC 9309, Allow beats Disallow
on ties).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def select_budget_annotated(
    candidates: DataFrame,
    host_budget: DataFrame,
    n_salts: int = 4,
    prune_salts: int = 32,
) -> DataFrame:
    """Annotate pending candidates with this epoch's selection: adds
    ``chosen`` (fetch now vs defer), ``slot`` (0-based per host),
    ``seq_in_host`` (1-based), ``scheduled_ms`` (token-bucket schedule),
    ``shard`` (salt). ONE DataFrame so the caller can cache the bloom
    probe + ranking window once and derive both branches by filter.

    Two-phase selection kills the single-host serial point: a frontier
    dominated by one host would otherwise rank ALL its candidates in
    one window task. Phase 1 ranks within (host, url_hash % prune_salts)
    groups — ``prune_salts`` parallel sorts — and keeps only each
    group's top ``max_per_epoch``: a row ranked below the budget inside
    its own salt group is below it globally too, so the prune is exact.
    Phase 2 runs the global per-host window over the survivors,
    ≤ prune_salts * budget rows per host. Pruned rows are deferred
    outright (their slot/schedule is never needed — they return to the
    frontier).

    The shuffle moves only (url, keys), not page bodies, and the heavy
    fetch/parse work downstream runs on the SALTED key. Hosts with no
    delay and unbounded budget skip the windows entirely (politeness
    semantics are vacuous for them) and spread by hash;
    their ``seq_in_host``/``slot`` are NULL/-1 sentinels — per-host
    order is only defined (and oracle-checked) for budgeted hosts.
    """
    joined = candidates.join(F.broadcast(host_budget), "host", "left").fillna(
        {"max_per_epoch": 1 << 30, "min_delay_ms": 0}
    )
    is_free = (F.col("min_delay_ms") <= 0) & (F.col("max_per_epoch") >= (1 << 30))
    free = joined.filter(is_free)
    polite = joined.filter(~is_free)

    # phase 1: exact local prune per (host, salt)
    w_local = Window.partitionBy("host", "_psalt").orderBy(
        "depth", "priority", "url_hash"
    )
    pre = polite.withColumn(
        "_psalt", F.pmod("url_hash", F.lit(prune_salts)).cast("int")
    ).withColumn("_lrn", F.row_number().over(w_local))
    contenders = pre.filter(F.col("_lrn") <= F.col("max_per_epoch"))
    pruned = pre.filter(F.col("_lrn") > F.col("max_per_epoch"))

    # phase 2: global per-host rank over the bounded survivor set
    w = Window.partitionBy("host").orderBy("depth", "priority", "url_hash")
    ranked = (
        contenders.withColumn("slot", F.row_number().over(w) - 1)
        .withColumn("chosen", F.col("slot") < F.col("max_per_epoch"))
        .withColumn("seq_in_host", F.col("slot") + 1)
        .withColumn("scheduled_ms", F.col("slot").cast("long") * F.col("min_delay_ms"))
        .withColumn("shard", F.pmod(F.col("slot"), F.lit(n_salts)).cast("int"))
    )
    deferred_pruned = (
        pruned.withColumn("slot", F.lit(-1))
        .withColumn("chosen", F.lit(False))
        .withColumn("seq_in_host", F.lit(None).cast("integer"))
        .withColumn("scheduled_ms", F.lit(None).cast("long"))
        .withColumn("shard", F.lit(-1).cast("int"))
    )
    annotated_free = (
        free.withColumn("slot", F.lit(-1))
        .withColumn("chosen", F.lit(True))
        .withColumn("seq_in_host", F.lit(None).cast("integer"))
        .withColumn("scheduled_ms", F.lit(0).cast("long"))
        .withColumn("shard", F.pmod(F.col("url_hash"), F.lit(n_salts)).cast("int"))
    )
    return (
        ranked.unionByName(deferred_pruned)
        .drop("_psalt", "_lrn")
        .unionByName(annotated_free)
    )


def parse_robots(text: str, user_agent: str = "*") -> list[tuple[str, bool]]:
    """Minimal robots.txt parse -> ``(path_prefix, allowed)`` rules for
    the given agent, in file order. Groups are 'User-agent:' lines
    followed by 'Allow:'/'Disallow:' lines; the most specific matching
    group wins (exact agent match over '*'); empty Disallow means
    allow-all (no rule emitted). Resolution against a URL is RFC 9309
    longest-prefix-wins with Allow beating Disallow on ties (see
    ``_rules_allow``). Feeds the broadcast robots cache (T4) — one
    parsed entry per host, fetched once and cached for the crawl's
    lifetime."""
    groups: dict[str, list[tuple[str, bool]]] = {}
    agents: list[str] = []
    last_was_agent = False
    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if not last_was_agent:
                agents = []
            agents.append(val.lower())
            for a in agents:
                groups.setdefault(a, [])
            last_was_agent = True
        elif key in ("disallow", "allow"):
            last_was_agent = False
            if val:
                for a in agents:
                    groups.setdefault(a, []).append((val, key == "allow"))
        else:
            last_was_agent = False
    ua = user_agent.lower()
    if ua in groups:
        return groups[ua]
    # RFC 9309: among partially-matching agent tokens the LONGEST match
    # wins, not the first-declared one
    matches = [a for a in groups if a != "*" and a in ua]
    if matches:
        return groups[max(matches, key=len)]
    return groups.get("*", [])


def _rules_allow(path: str, rules) -> bool:
    """RFC 9309 resolution: the longest-prefix matching rule decides;
    on equal length Allow wins; no matching rule -> allowed. Plain
    string rules (legacy maps) are treated as Disallow prefixes."""
    best_len, best_allow = -1, True
    for rule in rules:
        prefix, allowed = (rule, False) if isinstance(rule, str) else rule
        if path.startswith(prefix):
            n = len(prefix)
            if n > best_len or (n == best_len and allowed):
                best_len, best_allow = n, allowed
    return best_allow


def robots_allowed_bc(url: Column, host: Column, bc) -> Column:
    """Broadcast robots.txt cache probe against an EXISTING broadcast
    handle (broadcast once per crawl, reused every epoch — a fresh
    broadcast per call would accumulate two live broadcasts per epoch).
    URL path must not start with a disallowed prefix for its host
    (north-rule robots cache; the reference sends polite headers but
    never parses robots — comprehensive_scraper.py:32-42)."""

    @F.pandas_udf(T.BooleanType())
    def _allowed(urls: pd.Series, hosts: pd.Series) -> pd.Series:
        rules = bc.value
        # vectorized path extraction: everything after the 3rd slash,
        # "/" when the URL has no path (same result as the scalar
        # split-count form _rules_allow's callers used previously)
        paths = "/" + urls.str.split("/", n=3).str[3].fillna("")
        out = pd.Series(True, index=urls.index)  # no rules -> allowed
        # group the Arrow batch by host: the remaining loop is over
        # (hosts-in-batch x rules-per-host), never per row — each
        # rule's longest-prefix/Allow-wins update is a numpy mask op
        for h, idx in hosts.groupby(hosts).groups.items():
            host_rules = rules.get(h, ())
            if not host_rules:
                continue
            p = paths.loc[idx]
            best_len = np.full(len(p), -1)
            best_allow = np.ones(len(p), dtype=bool)
            for rule in host_rules:
                prefix, allowed = (
                    (rule, False) if isinstance(rule, str) else rule
                )
                n = len(prefix)
                upd = p.str.startswith(prefix).to_numpy() & (
                    (n > best_len) | ((n == best_len) & allowed)
                )
                best_len[upd] = n
                best_allow[upd] = allowed
            out.loc[idx] = best_allow
        return out

    return _allowed(url, host)


def robots_allowed(url: Column, host: Column, robots_map: dict[str, list[str]], spark) -> Column:
    """One-shot form of ``robots_allowed_bc`` (broadcasts per call —
    fine for tests/ad hoc use; the engine holds one broadcast)."""
    return robots_allowed_bc(url, host, spark.sparkContext.broadcast(robots_map))


# ===========================================================================
# X71: adaptive per-host politeness (AIMD controller)
# ===========================================================================

def adaptive_host_delays(
    host_budget: DataFrame,
    fetch_log: DataFrame,
    err_threshold_milli: int = 100,
    backoff_num: int = 2,
    backoff_den: int = 1,
    decrease_ms: int = 100,
    floor_ms: int = 500,
    cap_ms: int = 60_000,
) -> DataFrame:
    """Next epoch's ``min_delay_ms`` per host from the last epoch's
    outcomes — the feedback loop the reference's FIXED 5s sleep
    (comprehensive_scraper.py politeness constant) can't express: a
    struggling host (5xx/429/errors) needs MORE spacing, a healthy one
    tolerates less. Classic AIMD, inverted for delays (delay ~ 1/rate):

    - error share > ``err_threshold_milli``/1000 → multiplicative
      backoff: ``delay * backoff_num / backoff_den`` (integer,
      capped at ``cap_ms``);
    - zero errors → additive probe: ``delay - decrease_ms``
      (floored at ``floor_ms`` — never below the polite minimum);
    - otherwise hold.

    ALL-INTEGER arithmetic (the error share compares ``1000 * n_err >
    threshold * n`` — no float division anywhere), so the controller
    is bit-identical on any engine and partitioning. One hash
    aggregate over the fetch log + a broadcast-sized join with the
    budget table; hosts with no traffic keep their delay untouched.
    Errors counted: transport errors (``error`` non-null), HTTP 429,
    and 5xx. Returns the full ``host_budget`` row set with the
    updated ``min_delay_ms``.
    """
    if backoff_num <= backoff_den:
        raise ValueError(
            "adaptive_host_delays: backoff_num/backoff_den must be > 1 "
            f"(got {backoff_num}/{backoff_den})"
        )
    # coalesce matches the twin's CASE ... ELSE 0: a row with NULL
    # error AND NULL status_code is a non-error (the predicate is
    # NULL under three-valued logic, and an all-such-rows host would
    # sum _n_err to NULL — holding the delay where the twin probes)
    is_err = F.coalesce(
        (
            F.col("error").isNotNull()
            | (F.col("status_code") == 429)
            | (F.col("status_code") >= 500)
        ).cast("long"),
        F.lit(0),
    )
    stats = fetch_log.groupBy("host").agg(
        F.count("*").alias("_n"), F.sum(is_err).alias("_n_err")
    )
    j = host_budget.join(stats, "host", "left")
    d = F.col("min_delay_ms")
    # integer `div`, NOT double division + cast: Spark's long cast
    # truncates where DuckDB's rounds — div floors on both engines
    backed_off = F.least(
        F.lit(int(cap_ms)).cast("long"),
        F.expr(f"(min_delay_ms * {int(backoff_num)}) div {int(backoff_den)}"),
    )
    probed = F.greatest(F.lit(int(floor_ms)).cast("long"), d - decrease_ms)
    new_delay = (
        F.when(F.col("_n").isNull(), d)  # no traffic: hold
        .when(1000 * F.col("_n_err") > int(err_threshold_milli) * F.col("_n"), backed_off)
        .when(F.col("_n_err") == 0, probed)
        .otherwise(d)
    )
    return j.select(
        "host",
        "max_per_epoch",
        new_delay.cast("long").alias("min_delay_ms"),
    )


def adaptive_host_delays_sql(
    budget_rel: str,
    log_rel: str,
    err_threshold_milli: int = 100,
    backoff_num: int = 2,
    backoff_den: int = 1,
    decrease_ms: int = 100,
    floor_ms: int = 500,
    cap_ms: int = 60_000,
) -> str:
    """DuckDB twin — the identical integer arithmetic (`//` is the
    integer-div twin of Spark's `div`; both floor, and delays are
    non-negative — double division + cast would DIVERGE, Spark's
    long cast truncates where DuckDB's rounds)."""
    return f"""
      SELECT b.host, b.max_per_epoch,
        CAST(CASE
          WHEN s._n IS NULL THEN b.min_delay_ms
          WHEN 1000 * s._n_err > {int(err_threshold_milli)} * s._n THEN
            least(CAST({int(cap_ms)} AS BIGINT),
                  (b.min_delay_ms * {int(backoff_num)}) // {int(backoff_den)})
          WHEN s._n_err = 0 THEN
            greatest(CAST({int(floor_ms)} AS BIGINT),
                     b.min_delay_ms - {int(decrease_ms)})
          ELSE b.min_delay_ms
        END AS BIGINT) AS min_delay_ms
      FROM {budget_rel} b LEFT JOIN (
        SELECT host, COUNT(*) AS _n,
               CAST(SUM(CASE WHEN error IS NOT NULL OR status_code = 429
                          OR status_code >= 500 THEN 1 ELSE 0 END) AS BIGINT) AS _n_err
        FROM {log_rel} GROUP BY host
      ) s ON s.host = b.host
    """
