"""Driver result-serialization contract: every ``queries()`` output
column must be a scalar type.

The driver's correctness gate canonicalizes each result by sorting all
columns through pandas before hashing; a list/struct/map cell raises
``TypeError: unhashable type`` and turns the row into an ERR regardless
of engine correctness (round-3 regression on ``pipeline_run_report``).
This gate makes that class of bug impossible to reintroduce: any
composite value must be serialized (``F.to_json``) at the query
boundary, on both the Spark and the oracle side.

Near-schema-only: the sweep never executes the result DataFrames, but
building them is not free — construction-time checkpoints and
auto-select size probes (renumber_groups' LIMIT-bounded count) run
small jobs. The build is shared with
test_plans' cartesian sweep through conftest's ``built_queries``.
"""

from __future__ import annotations

from pyspark.sql.types import ArrayType, MapType, StructType

import __spark_entry__ as entry

SF_DIR = "/root/testdata/sf0.001"


def test_every_query_output_is_scalar_only(built_queries):
    bad: dict[str, list[str]] = {}
    for name, df in built_queries(SF_DIR).items():
        complex_fields = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if complex_fields:
            bad[name] = complex_fields
    assert not bad, (
        "driver-facing queries must emit only scalar columns (the "
        "driver's hash canonicalizer cannot sort list/struct cells); "
        f"serialize these with F.to_json at the query boundary: {bad}"
    )


def test_every_query_has_oracle_or_is_documented(spark):
    """Every queries() key should either have an oracle_sql() twin
    (full triple-green gate) or be a deliberate rows-only entry. A key
    silently missing from oracle_sql() downgrades its correctness
    evidence without anyone noticing — keep the rows-only set explicit.
    """
    queries = set(entry.queries())
    oracles = set(entry.oracle_sql())
    unknown_oracles = oracles - queries
    assert not unknown_oracles, f"oracle_sql keys with no query: {unknown_oracles}"
    rows_only = queries - oracles
    # explicit allowlist: non-SQL-expressible ops get a weaker
    # rows-only driver check by design; everything else needs a twin
    assert rows_only <= set(), (
        f"queries without an oracle twin (add SQL or allowlist here): {rows_only}"
    )
