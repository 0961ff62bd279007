"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one operator family from SURVEY.md §2
through the engine's own operator modules
(``webscrape_neko_jirushi_spark.operators/...``); ``oracle_sql()`` holds
the DuckDB-equivalent ANSI SQL. Column names/aliases match pairwise;
doubles are rounded identically on both sides; money sums go through
DECIMAL(18,4) so both engines aggregate exactly.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from webscrape_neko_jirushi_spark.functions.hashing import (
    portable_hash64,
    portable_hash64_sql,
)
from webscrape_neko_jirushi_spark.functions.text import key_value_map
from webscrape_neko_jirushi_spark.functions.urls import (
    cat_id_col,
    content_type_to_ext,
    url_interest_predicate,
)
from webscrape_neko_jirushi_spark.crawl import revisit, traps
from webscrape_neko_jirushi_spark.operators.fanout import fan_out, scan_splits
from webscrape_neko_jirushi_spark.operators import (
    anchors,
    cleaning,
    cms,
    dedup,
    graph,
    hdr,
    hll,
    layout,
    merge as merge_ops,
    projection,
    reorganize,
    similarity,
    stats,
)
from webscrape_neko_jirushi_spark.sources import warc
from webscrape_neko_jirushi_spark.sources.analog import (
    CAT_INFO_ANALOG_SQL,
    IMAGES_ANALOG_SQL,
    cat_info_analog,
    images_analog,
    load,
)
from webscrape_neko_jirushi_spark.text import (
    analysis,
    boilerplate,
    classifier,
    curation,
    encoding,
    dsir,
    extraction,
    linededup,
    lm,
    packing,
    ranking,
    repetition,
    scrubbing,
    substrings,
)

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}


def q(name: str, sql: str | None = None):
    def deco(fn):
        _QUERIES[name] = fn
        if sql is not None:
            _ORACLES[name] = sql
        return fn

    return deco


def _images(spark, sf_dir):
    return images_analog(load(spark, sf_dir, "lineitem"))


def _images_fanned(spark, sf_dir, key: str):
    """The image analog re-spread over the session parallelism, keyed
    on the consumer's own shuffle key (guide §2.4: the repartition
    exchange is then REUSED by the window/groupBy above it — exchange
    count unchanged, map work parallel). The sf lineitem file is a
    single row group, i.e. a 1-task scan; no-op once the scan
    over-splits (see fanout.fan_out)."""
    return fan_out(
        _images(spark, sf_dir),
        key,
        splits=scan_splits(spark, f"{sf_dir}/lineitem.parquet"),
    )


# ===========================================================================
# aggregations (A1, A5, A6, A11) / sort-limit (O2)
# ===========================================================================

@q(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)        AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)   AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
           COUNT(*)                                                      AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark, sf_dir):
    """A1/A6: grand-tally aggregation (TPC-H Q1 shape). Partial+final
    hash agg; decimal sums are engine-exact."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02 00:00:00")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # decimal accumulation (engine-exact), plain double out
            F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double").alias("sum_base_price"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            ).cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


@q(
    "per_group_rollup",
    """
    SELECT COALESCE(doc_id, '<ALL>') AS doc_id,
           COUNT(*) AS n_images,
           CAST(SUM(CAST(size_bytes AS DECIMAL(18,0))) AS BIGINT) AS total_bytes
    FROM (%s) images
    GROUP BY ROLLUP(doc_id)
    """
    % IMAGES_ANALOG_SQL,
)
def q_per_group_rollup(spark, sf_dir):
    """A6: per-cat size rollup + grand total (data_manager.py:27-61) as
    a single ROLLUP pass."""
    return (
        _images(spark, sf_dir)
        .rollup("doc_id")
        .agg(
            F.count("*").alias("n_images"),
            F.sum(F.col("size_bytes").cast("decimal(18,0)")).cast("long").alias("total_bytes"),
        )
        .withColumn("doc_id", F.coalesce(F.col("doc_id"), F.lit("<ALL>")))
    )


@q(
    "top10_sizes",
    """
    SELECT size_bytes, COUNT(*) AS n
    FROM (%s) images
    GROUP BY size_bytes
    ORDER BY n DESC, size_bytes
    LIMIT 10
    """
    % IMAGES_ANALOG_SQL,
)
def q_top10_sizes(spark, sf_dir):
    """A5/O2: top-k frequent sizes (advanced_cleaning.py:307-310),
    deterministic tie-break -> TakeOrderedAndProject."""
    return cleaning.top_k_sizes(_images(spark, sf_dir), 10)


@q(
    "distinct_entities",
    """
    SELECT COUNT(DISTINCT md5) AS n_distinct_hashes,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM (%s) images
    """
    % IMAGES_ANALOG_SQL,
)
def q_distinct_entities(spark, sf_dir):
    """A11: distinct counts (len(scraped_cats) analogs)."""
    return _images(spark, sf_dir).agg(
        F.countDistinct("md5").alias("n_distinct_hashes"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


# ===========================================================================
# joins / set ops (J1, J2, J5, U1, U2, U3)
# ===========================================================================

_SEEN_SQL = "SELECT CONCAT('https://mirror-main.test/img/', CAST(p_partkey AS VARCHAR), '_1.jpg') AS url FROM part WHERE p_partkey % 5 = 0"


def _seen_urls(spark, sf_dir):
    return load(spark, sf_dir, "part").filter(F.col("p_partkey") % 5 == 0).select(
        F.concat(
            F.lit("https://mirror-main.test/img/"),
            F.col("p_partkey").cast("string"),
            F.lit("_1.jpg"),
        ).alias("url")
    )


@q(
    "url_seen_anti_join",
    f"""
    SELECT i.url, i.doc_id
    FROM ({IMAGES_ANALOG_SQL}) i
    WHERE i.image_idx = 1
      AND NOT EXISTS (SELECT 1 FROM ({_SEEN_SQL}) s WHERE s.url = i.url)
    """,
)
def q_url_seen_anti_join(spark, sf_dir):
    """J1: the URL-seen anti-join (comprehensive_scraper.py:144-146)."""
    imgs = _images(spark, sf_dir).filter(F.col("image_idx") == 1)
    return imgs.join(_seen_urls(spark, sf_dir), "url", "left_anti").select(
        "url", "doc_id"
    )


@q(
    "url_seen_semi_join",
    f"""
    SELECT i.url, i.doc_id
    FROM ({IMAGES_ANALOG_SQL}) i
    WHERE i.image_idx = 1
      AND EXISTS (SELECT 1 FROM ({_SEEN_SQL}) s WHERE s.url = i.url)
    """,
)
def q_url_seen_semi_join(spark, sf_dir):
    """U3: the complement semi-join (already-scraped check)."""
    imgs = _images(spark, sf_dir).filter(F.col("image_idx") == 1)
    return imgs.join(_seen_urls(spark, sf_dir), "url", "left_semi").select(
        "url", "doc_id"
    )


@q(
    "union_dedup_frontier",
    f"""
    SELECT url FROM (
      SELECT url FROM ({IMAGES_ANALOG_SQL}) WHERE image_idx <= 2
      UNION ALL
      SELECT url FROM ({_SEEN_SQL})
      UNION ALL
      SELECT CONCAT('https://mirror-main.test/foster/', CAST(p_partkey AS VARCHAR), '/') AS url
      FROM part WHERE p_partkey % 3 = 0
    ) u GROUP BY url
    """,
)
def q_union_dedup_frontier(spark, sf_dir):
    """U1/J3: union of three discovery sources + dedup
    (smart_cat_discovery.py:87-102)."""
    a = _images(spark, sf_dir).filter(F.col("image_idx") <= 2).select("url")
    b = _seen_urls(spark, sf_dir)
    c = load(spark, sf_dir, "part").filter(F.col("p_partkey") % 3 == 0).select(
        F.concat(
            F.lit("https://mirror-main.test/foster/"),
            F.col("p_partkey").cast("string"),
            F.lit("/"),
        ).alias("url")
    )
    return a.unionByName(b).unionByName(c).dropDuplicates(["url"])


@q(
    "frontier_except_failed",
    f"""
    SELECT url FROM ({_SEEN_SQL})
    EXCEPT
    SELECT CONCAT('https://mirror-main.test/img/', CAST(p_partkey AS VARCHAR), '_1.jpg') AS url
    FROM part WHERE p_partkey % 10 = 0
    """,
)
def q_frontier_except_failed(spark, sf_dir):
    """U2: set difference (discovered minus failed,
    smart_cat_discovery.py:305-311)."""
    failed = load(spark, sf_dir, "part").filter(F.col("p_partkey") % 10 == 0).select(
        F.concat(
            F.lit("https://mirror-main.test/img/"),
            F.col("p_partkey").cast("string"),
            F.lit("_1.jpg"),
        ).alias("url")
    )
    return _seen_urls(spark, sf_dir).exceptAll(failed).distinct()


@q(
    "data_images_join",
    f"""
    SELECT c.cat_id, COUNT(i.image_idx) AS n_images
    FROM ({CAT_INFO_ANALOG_SQL}) c
    LEFT JOIN ({IMAGES_ANALOG_SQL}) i
      ON i.doc_id = CONCAT('cat_', CAST(c.cat_id % 500 AS VARCHAR))
    GROUP BY c.cat_id
    """,
)
def q_data_images_join(spark, sf_dir):
    """J5: data<->images equi-join by stem (reorganize_dataset.py:117-162);
    small side broadcast."""
    cats = cat_info_analog(load(spark, sf_dir, "customer"))
    imgs = _images(spark, sf_dir)
    # aggregate the big side BEFORE the join (guide §2.3), then
    # broadcast the tiny per-doc count table as the BUILD (non-
    # preserved) side of the left join. The previous form hinted
    # broadcast on the PRESERVED side of a left-outer join — a build
    # side Spark cannot use (HintErrorLogger dropped it silently,
    # VERDICT r5 #1) — and so shuffled the full 600k-row image analog
    # against ~15k cats and aggregated the multiplied join output.
    # sum(coalesce(n, 0)) per cat row == count(image_idx) over the
    # row-level join for any cat_id multiplicity.
    counts = imgs.groupBy("doc_id").agg(F.count("image_idx").alias("_n"))
    joined = cats.join(
        F.broadcast(counts),
        counts.doc_id == F.concat(F.lit("cat_"), (cats.cat_id % 500).cast("string")),
        "left",
    )
    return joined.groupBy("cat_id").agg(
        F.sum(F.coalesce("_n", F.lit(0))).alias("n_images")
    )


# ===========================================================================
# windows (W1, W2, W3, W5)
# ===========================================================================

@q(
    "keep_first_dedup",
    f"""
    SELECT doc_id, image_idx, md5 FROM (
      SELECT doc_id, image_idx, md5,
             ROW_NUMBER() OVER (PARTITION BY md5 ORDER BY doc_id, image_idx, src_key) AS rn
      FROM ({IMAGES_ANALOG_SQL})
    ) t WHERE rn = 1
    """,
)
def q_keep_first_dedup(spark, sf_dir):
    """W1/A8: cross-group MD5 dedup, keep-first with deterministic order
    (aggressive_cleaning.py:186-197).

    r6 form: keep-first == argmin of the (total) order tuple, so the
    window (`dedup.exact_dedup`, which stays the engine operator for
    whole-row survivors) reduces to `min(struct(order_cols))` per hash
    — a hash aggregate with map-side partial aggregation (guide §2.3
    "aggregate before you shuffle"): each task ships one candidate row
    per md5 group instead of every row through the window sort.
    Identical rows out: struct ordering is lexicographic and
    (doc_id, image_idx, src_key) is row-unique. Fanned on the group
    key: the repartition exchange doubles as the aggregation's own
    shuffle."""
    return (
        _images_fanned(spark, sf_dir, "md5")
        .groupBy("md5")
        .agg(F.min(F.struct("doc_id", "image_idx", "src_key")).alias("_first"))
        .select(
            F.col("_first.doc_id").alias("doc_id"),
            F.col("_first.image_idx").alias("image_idx"),
            "md5",
        )
    )


@q(
    "duplicate_groups",
    f"""
    SELECT md5, COUNT(*) AS n_members
    FROM ({IMAGES_ANALOG_SQL})
    GROUP BY md5 HAVING COUNT(*) > 1
    """,
)
def q_duplicate_groups(spark, sf_dir):
    """A8: duplicate-hash grouping (aggressive_cleaning.py:170-185)."""
    return (
        _images(spark, sf_dir)
        .groupBy("md5")
        .agg(F.count("*").alias("n_members"))
        .filter(F.col("n_members") > 1)
    )


@q(
    "ordinal_rename",
    f"""
    SELECT doc_id, image_idx,
           CONCAT(printf('image_%03d', ROW_NUMBER() OVER
             (PARTITION BY doc_id ORDER BY image_idx, src_key)),
             lower(regexp_extract(filename, '(\\.[A-Za-z0-9]+)$', 1))) AS new_name
    FROM ({IMAGES_ANALOG_SQL})
    """,
)
def q_ordinal_rename(spark, sf_dir):
    """W2/P10: per-group ordinal renaming (reorganize_dataset.py:100-105);
    src_key makes the discovery-order tie-break total. Fanned on the
    window key: the repartition exchange doubles as the window's own
    shuffle."""
    return reorganize.ordinal_rename(
        _images_fanned(spark, sf_dir, "doc_id"), order_col=["image_idx", "src_key"]
    ).select("doc_id", "image_idx", "new_name")


@q(
    "renumber_groups",
    f"""
    SELECT cat_id,
      CONCAT(printf('cat_%04d', ROW_NUMBER() OVER (ORDER BY cat_id)),
             '_', clean_name) AS new_dir
    FROM (
      SELECT cat_id,
        COALESCE(
          NULLIF(substr(trim('_' FROM regexp_replace(regexp_replace(resolved_name,
            '[^a-zA-Z0-9_ 一-鿿぀-ヿ-]', '', 'g'), '[-\\s]+', '_', 'g')), 1, 50), ''),
          'unknown_cat') AS clean_name
      FROM (
        SELECT cat_id,
          COALESCE(NULLIF(trim(name),''), NULLIF(trim(cat_name),''),
                   NULLIF(trim(title),''), NULLIF(trim(catch_copy),''),
                   CONCAT('cat_', CAST(cat_id AS VARCHAR)), 'unknown_cat') AS resolved_name
        FROM ({CAT_INFO_ANALOG_SQL})
      ) r
    ) s
    """,
)
def q_renumber_groups(spark, sf_dir):
    """W3/P5/P6: global renumbering + name coalesce + filename sanitize
    (reorganize_dataset.py:28-115)."""
    cats = cat_info_analog(load(spark, sf_dir, "customer"))
    return reorganize.renumber_groups(cats).select("cat_id", "new_dir")


@q(
    "resume_watermark",
    "SELECT COALESCE(MAX(o_orderkey % 1000), 0) + 1 AS start_page FROM orders WHERE o_orderstatus = 'F'",
)
def q_resume_watermark(spark, sf_dir):
    """W5/T2: resume high-watermark (comprehensive_scraper.py:295)."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return reorganize.resume_watermark(
        o.select((F.col("o_orderkey") % 1000).alias("page_now"))
    )


@q(
    "id_probe_frontier",
    """
    WITH probes AS (
      SELECT CONCAT('https://mirror-main.test/foster/', CAST(id AS VARCHAR), '/') AS url,
             id AS priority
      FROM range(226400, 226900, 5) t(id)
    ),
    seen AS (
      SELECT DISTINCT CONCAT('https://mirror-main.test/foster/',
               CAST(226400 + (p_partkey % 40) * 5 AS VARCHAR), '/') AS url
      FROM part WHERE p_partkey % 7 = 0
    )
    SELECT p.url, p.priority FROM probes p
    WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.url = p.url)
    """,
)
def q_id_probe_frontier(spark, sf_dir):
    """S6: the ID-range probe source (smart_cat_discovery.py:158-173) —
    spark.range over the reference's 5 hardcoded ranges, step 5, minus
    an already-seen set (anti-join), exactly the engine's
    ``inject_probe_ranges`` path."""
    from webscrape_neko_jirushi_spark.crawl.probe import id_range_probe

    probes = id_range_probe(spark, "https://mirror-main.test").select(
        "url", "priority"
    )
    seen = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 7 == 0)
        .select(
            F.concat(
                F.lit("https://mirror-main.test/foster/"),
                (F.lit(226400) + (F.col("p_partkey") % 40) * 5).cast("string"),
                F.lit("/"),
            ).alias("url")
        )
        .distinct()
    )
    return probes.join(seen, "url", "left_anti")


@q(
    "search_cond_encode",
    """
    SELECT CAST(id AS BIGINT) AS page,
           CAST(to_json(struct_pack(
             params := 'contents/',
             p := CAST(id AS VARCHAR),
             page := CAST(id - 1 AS INTEGER),
             target_pref_id := '', age_limit := '', sex := '', vaccine := '',
             spay_and_neuter := '', pattern_no := '', status_id := '',
             city_id := '', city_name := '', keyword := '', user_id := '',
             recruiter_pref := 0
           )) AS VARCHAR) AS search_cond
    FROM range(1, 51) t(id)
    """,
)
def q_search_cond_encode(spark, sf_dir):
    """P12: the listing API's POST search_cond JSON encode
    (comprehensive_scraper.py:103-124) — to_json(struct(...)),
    byte-identical across engines."""
    from webscrape_neko_jirushi_spark.crawl.fetchers import search_cond_json

    return spark.range(1, 51).select(
        F.col("id").alias("page"), search_cond_json(F.col("id")).alias("search_cond")
    )


# ===========================================================================
# filter cascades (P13-P20, P22) + report aggs (A2, A3, A4, A9)
# ===========================================================================

_ADV_CASCADE_SQL = f"""
  SELECT *,
    CASE
      WHEN size_bytes IN (43,172,281,364,883,1300,1500,1900,3400,4000,4058,4500,5200,5871,6300,6400,6490,6700,6900,7200)
           OR size_bytes < 5000 THEN CONCAT('File size suspicious: ', CAST(size_bytes AS VARCHAR))
      WHEN lower(filename) SIMILAR TO '.*(icon|button|banner|logo|avatar|profile|noimage|placeholder|default|empty|loading|spacer|pixel|transparent|blank|sample).*'
           THEN CONCAT('Filename suspicious: ', lower(filename))
      WHEN width < 100 OR height < 100 THEN CONCAT('Too small: ', CAST(width AS VARCHAR), 'x', CAST(height AS VARCHAR))
      WHEN width > 10000 OR height > 10000 THEN CONCAT('Too large: ', CAST(width AS VARCHAR), 'x', CAST(height AS VARCHAR))
      WHEN width / CAST(height AS DOUBLE) < 0.1 OR width / CAST(height AS DOUBLE) > 10.0
           THEN CONCAT('Bad aspect ratio: ', CAST(ROUND(width / CAST(height AS DOUBLE), 2) AS VARCHAR))
      WHEN mode IN ('RGBA','LA') AND alpha_max < 50 THEN 'Mostly transparent'
    END AS reason,
    CASE
      WHEN size_bytes IN (43,172,281,364,883,1300,1500,1900,3400,4000,4058,4500,5200,5871,6300,6400,6490,6700,6900,7200)
           OR size_bytes < 5000 THEN 'file_size'
      WHEN lower(filename) SIMILAR TO '.*(icon|button|banner|logo|avatar|profile|noimage|placeholder|default|empty|loading|spacer|pixel|transparent|blank|sample).*'
           THEN 'pattern'
      WHEN (width < 100 OR height < 100) OR (width > 10000 OR height > 10000)
           OR (width / CAST(height AS DOUBLE) < 0.1 OR width / CAST(height AS DOUBLE) > 10.0)
           OR (mode IN ('RGBA','LA') AND alpha_max < 50) THEN 'dimension'
    END AS reason_category
  FROM ({IMAGES_ANALOG_SQL})
"""


@q(
    "advanced_cascade_stats",
    f"""
    SELECT COUNT(*) AS total_groups,
           CAST(SUM(images_before) AS BIGINT) AS total_images_before,
           CAST(SUM(images_after) AS BIGINT) AS total_images_after,
           CAST(SUM(removed_count) AS BIGINT) AS removed_images,
           CAST(SUM(CASE WHEN removed_count > 0 THEN 1 ELSE 0 END) AS BIGINT) AS groups_with_removals,
           CAST(SUM(CASE WHEN images_after = 0 THEN 1 ELSE 0 END) AS BIGINT) AS groups_fully_removed
    FROM (
      SELECT doc_id, COUNT(*) AS images_before,
             SUM(CASE WHEN reason IS NULL THEN 1 ELSE 0 END) AS images_after,
             SUM(CASE WHEN reason IS NULL THEN 0 ELSE 1 END) AS removed_count
      FROM ({_ADV_CASCADE_SQL}) c GROUP BY doc_id
    ) g
    """,
)
def q_advanced_cascade_stats(spark, sf_dir):
    """P13-P15/P20 + A2/A9: the advanced_cleaning statistics block
    (advanced_cleaning.py:37-48,128-204) as one rollup."""
    cascaded = cleaning.advanced_cascade(_images(spark, sf_dir))
    return cleaning.cleaning_stats(cascaded, "doc_id")


@q(
    "advanced_removal_breakdown",
    f"""
    SELECT reason_category, COUNT(*) AS n_removed
    FROM ({_ADV_CASCADE_SQL}) c
    WHERE reason IS NOT NULL GROUP BY reason_category
    """,
)
def q_advanced_removal_breakdown(spark, sf_dir):
    """A3: removals per category (advanced_cleaning.py:134-147)."""
    return cleaning.removal_breakdown(
        cleaning.advanced_cascade(_images(spark, sf_dir))
    )


@q(
    "aggressive_cascade_stats",
    f"""
    SELECT COUNT(*) AS total_groups,
           CAST(SUM(images_before) AS BIGINT) AS total_images_before,
           CAST(SUM(images_after) AS BIGINT) AS total_images_after,
           CAST(SUM(removed_count) AS BIGINT) AS removed_images,
           CAST(SUM(CASE WHEN removed_count > 0 THEN 1 ELSE 0 END) AS BIGINT) AS groups_with_removals,
           CAST(SUM(CASE WHEN images_after = 0 THEN 1 ELSE 0 END) AS BIGINT) AS groups_fully_removed
    FROM (
      SELECT doc_id, COUNT(*) AS images_before,
             SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS images_after,
             SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS removed_count
      FROM (
        SELECT doc_id,
          NOT (size_bytes < 10000 OR size_bytes > 20971520
            OR size_bytes IN (5276,6490,5871,4058,4560,3480,1964,4634,2713,883,1505,1320,2326,4356)
            OR width < 300 OR height < 300 OR width > 8000 OR height > 8000
            OR width / CAST(height AS DOUBLE) < 0.3 OR width / CAST(height AS DOUBLE) > 3.0
            OR (mode IN ('RGBA','LA') AND alpha_max < 50)
            OR top_color_ratio > 0.8) AS keep
        FROM ({IMAGES_ANALOG_SQL})
      ) c GROUP BY doc_id
    ) g
    """,
)
def q_aggressive_cascade_stats(spark, sf_dir):
    """P13/P14/P16 + A2/A9: aggressive_cleaning statistics
    (aggressive_cleaning.py:37-49,143-255)."""
    cascaded = cleaning.aggressive_cascade(_images(spark, sf_dir))
    return cleaning.cleaning_stats(cascaded, "doc_id")


@q(
    "heuristic_keep_scores",
    f"""
    SELECT cat_score, keep, COUNT(*) AS n FROM (
      SELECT
        (CASE WHEN width / CAST(height AS DOUBLE) BETWEEN 0.5 AND 2.0 THEN 1 ELSE 0 END
         + CASE WHEN width >= 100 AND height >= 100 THEN 1 ELSE 0 END
         + CASE WHEN width <= 5000 AND height <= 5000 THEN 1 ELSE 0 END
         + CASE WHEN warm_ratio > 0.1 THEN 1 ELSE 0 END) AS cat_score,
        CASE
          WHEN lower(filename) SIMILAR TO '.*(ad|advertisement|banner|logo|icon|button|thumb|thumbnail|preview|placeholder|dummy|loading|error|404|noimage|default|illustration|drawing|cartoon|anime|manga|graphic|design|art|painting).*' THEN FALSE
          WHEN lower(filename) SIMILAR TO '.*(cat|foster|pet|animal|kitten|kitty).*' THEN TRUE
          WHEN (CASE WHEN width / CAST(height AS DOUBLE) BETWEEN 0.5 AND 2.0 THEN 1 ELSE 0 END
              + CASE WHEN width >= 100 AND height >= 100 THEN 1 ELSE 0 END
              + CASE WHEN width <= 5000 AND height <= 5000 THEN 1 ELSE 0 END
              + CASE WHEN warm_ratio > 0.1 THEN 1 ELSE 0 END) >= 3 THEN TRUE
          WHEN (CASE WHEN width / CAST(height AS DOUBLE) BETWEEN 0.5 AND 2.0 THEN 1 ELSE 0 END
              + CASE WHEN width >= 100 AND height >= 100 THEN 1 ELSE 0 END
              + CASE WHEN width <= 5000 AND height <= 5000 THEN 1 ELSE 0 END
              + CASE WHEN warm_ratio > 0.1 THEN 1 ELSE 0 END) <= 1 THEN FALSE
          ELSE TRUE
        END AS keep
      FROM ({IMAGES_ANALOG_SQL})
    ) s GROUP BY cat_score, keep
    """,
)
def q_heuristic_keep_scores(spark, sf_dir):
    """P17/P18: cleanup_dataset.py 0-4 scoring + 3-way filename class."""
    scored = cleaning.heuristic_keep_score(_images(spark, sf_dir))
    return scored.groupBy("cat_score", "keep").agg(F.count("*").alias("n"))


_DETECTIONS_SQL = f"""
  SELECT doc_id, image_idx,
    list_transform(range(1, 1 + CAST(width % 4 AS INTEGER)),
                   j -> ((width * j * 13) % 100) / 100.0) AS confs
  FROM ({IMAGES_ANALOG_SQL})
"""


@q(
    "yolo_detection_filter",
    f"""
    SELECT doc_id, image_idx, detection_count,
           ROUND(total_confidence, 6) AS total_confidence,
           ROUND(avg_confidence, 6) AS avg_confidence
    FROM (
      SELECT doc_id, image_idx,
        length(list_filter(confs, c -> c >= 0.3)) AS detection_count,
        COALESCE(list_aggregate(list_filter(confs, c -> c >= 0.3), 'sum'), 0.0) AS total_confidence,
        CASE WHEN length(list_filter(confs, c -> c >= 0.3)) > 0
             THEN list_aggregate(list_filter(confs, c -> c >= 0.3), 'sum')
                  / length(list_filter(confs, c -> c >= 0.3))
             ELSE 0.0 END AS avg_confidence
      FROM ({_DETECTIONS_SQL}) d
    ) x WHERE detection_count > 0
    """,
)
def q_yolo_detection_filter(spark, sf_dir):
    """P22/F7/A7: batch-inference filter with a deterministic stub
    classifier; keep rows with >= 1 detection over threshold; per-image
    aggregates via array HOFs."""
    filtered = _yolo_detections(spark, sf_dir).filter(F.col("keep"))
    return filtered.select(
        "doc_id", "image_idx", "detection_count", "total_confidence", "avg_confidence"
    )


def _yolo_detections(spark, sf_dir):
    """Deterministic stub classifier (yolo_cat_detector.py:87-130):
    confidence array from arithmetic, scored via cleaning.yolo_filter
    (all rows, keep flag included)."""
    imgs = _images(spark, sf_dir)
    n = (F.col("width") % 4).cast("int")
    # sequence(1, 0) would generate a DESCENDING [1, 0] — guard n = 0
    confs = F.when(n > 0, F.transform(
        F.sequence(F.lit(1), n),
        lambda j: ((F.col("width") * j * 13) % 100) / 100.0,
    )).otherwise(F.array().cast("array<double>"))
    with_dets = imgs.withColumn(
        "detections",
        F.transform(
            confs, lambda c: F.struct(c.alias("confidence"), F.array().cast("array<double>").alias("bbox"))
        ),
    )
    return cleaning.yolo_filter(with_dets, 0.3)


@q(
    "pipeline_run_report",
    f"""
    WITH img AS ({IMAGES_ANALOG_SQL}),
    y AS (
      SELECT length(list_filter(confs, c -> c >= 0.3)) AS detection_count,
        CASE WHEN length(list_filter(confs, c -> c >= 0.3)) > 0
             THEN list_aggregate(list_filter(confs, c -> c >= 0.3), 'sum')
                  / length(list_filter(confs, c -> c >= 0.3))
             ELSE 0.0 END AS avg_confidence
      FROM ({{_DET}}) d
    ),
    base AS (
      SELECT COUNT(DISTINCT doc_id) AS total_cats, COUNT(*) AS total_images FROM img
    ),
    ys AS (
      SELECT CAST(SUM(CASE WHEN detection_count > 0 THEN 1 ELSE 0 END) AS BIGINT) AS images_with_cats,
             CAST(SUM(CASE WHEN detection_count = 0 THEN 1 ELSE 0 END) AS BIGINT) AS removed_images,
             ROUND(AVG(CASE WHEN detection_count > 0 THEN avg_confidence END), 6) AS avg_confidence
      FROM y
    ),
    es AS (
      -- mirrors run_report's max_errors=1000 cap (first 1000 sorted)
      -- AND its non-null filter: a NULL filename makes the Spark-side
      -- error string NULL and run_report drops the row from BOTH the
      -- count and the array — this CTE must describe the same row set
      SELECT COUNT(*) AS n_errors,
             COALESCE(list_sort(list('undersized:' || filename))[1:1000], []) AS errors
      FROM img WHERE size_bytes < 5000 AND filename IS NOT NULL
    )
    SELECT b.total_cats, b.total_images, ys.images_with_cats, ys.removed_images,
           ys.avg_confidence, es.n_errors, to_json(es.errors) AS errors,
           'advanced' AS cascade, CAST(0.3 AS DOUBLE) AS yolo_threshold
    FROM base b, ys, es
    """.replace("{_DET}", _DETECTIONS_SQL),
)
def q_pipeline_run_report(spark, sf_dir):
    """D4 + J7: the pipeline completion report
    (complete_pipeline.py:134-202) as one row — per-stage single-row
    aggregates merged with broadcast cross joins, config echoed as
    literal columns."""
    imgs = _images(spark, sf_dir)
    report = stats.run_report(
        imgs,
        yolo=_yolo_detections(spark, sf_dir),
        errors=imgs.filter(F.col("size_bytes") < 5000).select(
            F.concat(F.lit("undersized:"), F.col("filename")).alias("error")
        ),
        config={"cascade": "advanced", "yolo_threshold": 0.3},
    )
    # query-boundary contract: the driver's hash canonicalizer sorts
    # columns through pandas and cannot handle list cells — serialize
    # the errors array to its JSON string (byte-identical to DuckDB's
    # to_json for string arrays). Engine users of stats.run_report
    # still get the real array<string>.
    return report.withColumn("errors", F.to_json("errors"))


# ===========================================================================
# scalar projections (P3, P7, P8, P9, P21) / scans
# ===========================================================================

@q(
    "cat_id_extraction",
    """
    SELECT url, CAST(regexp_extract(url, '/foster/([0-9]+)/', 1) AS BIGINT) AS cat_id
    FROM (SELECT CONCAT('https://mirror-main.test/foster/', CAST(p_partkey AS VARCHAR),
                 CASE WHEN p_partkey % 4 = 0 THEN '/' ELSE '' END) AS url FROM part) u
    WHERE regexp_extract(url, '/foster/([0-9]+)/', 1) <> ''
    """,
)
def q_cat_id_extraction(spark, sf_dir):
    """P3: /foster/(\\d+)/ id extraction (smart_cat_discovery.py:186-191);
    non-matching URLs dropped (the failed-parse path)."""
    urls = load(spark, sf_dir, "part").select(
        F.concat(
            F.lit("https://mirror-main.test/foster/"),
            F.col("p_partkey").cast("string"),
            F.when(F.col("p_partkey") % 4 == 0, "/").otherwise(""),
        ).alias("url")
    )
    return urls.select("url", cat_id_col(F.col("url")).alias("cat_id")).filter(
        F.col("cat_id").isNotNull()
    )


@q(
    "url_interest_filter",
    f"""
    SELECT url FROM (
      SELECT CASE
        WHEN p_partkey % 3 = 0 THEN CONCAT('https://mirror-main.test/img/cat_', CAST(p_partkey AS VARCHAR), '.jpg')
        WHEN p_partkey % 3 = 1 THEN CONCAT('https://mirror-main.test/static/asset_', CAST(p_partkey AS VARCHAR))
        ELSE CONCAT('https://mirror-main.test/foster/', CAST(p_partkey AS VARCHAR), '/')
      END AS url FROM part
    ) u
    WHERE lower(url) LIKE '%cat%' OR lower(url) LIKE '%foster%'
       OR lower(url) LIKE '%.jpg%' OR lower(url) LIKE '%.jpeg%'
       OR lower(url) LIKE '%.png%' OR lower(url) LIKE '%.webp%'
    """,
)
def q_url_interest_filter(spark, sf_dir):
    """P2: the URL-interest predicate (comprehensive_scraper.py:184-187)."""
    pk = F.col("p_partkey")
    urls = load(spark, sf_dir, "part").select(
        F.when(
            pk % 3 == 0,
            F.concat(F.lit("https://mirror-main.test/img/cat_"), pk.cast("string"), F.lit(".jpg")),
        )
        .when(
            pk % 3 == 1,
            F.concat(F.lit("https://mirror-main.test/static/asset_"), pk.cast("string")),
        )
        .otherwise(
            F.concat(F.lit("https://mirror-main.test/foster/"), pk.cast("string"), F.lit("/"))
        )
        .alias("url")
    )
    return urls.filter(url_interest_predicate(F.col("url")))


@q(
    "content_type_to_ext",
    """
    SELECT ct, CASE
      WHEN lower(COALESCE(ct,'')) LIKE '%jpeg%' OR lower(COALESCE(ct,'')) LIKE '%jpg%' THEN '.jpg'
      WHEN lower(COALESCE(ct,'')) LIKE '%png%' THEN '.png'
      WHEN lower(COALESCE(ct,'')) LIKE '%webp%' THEN '.webp'
      WHEN lower(COALESCE(ct,'')) LIKE '%gif%' THEN '.gif'
      ELSE '.jpg' END AS ext,
      COUNT(*) AS n
    FROM (
      SELECT CASE WHEN event_type = 'click' THEN 'image/jpeg'
                  WHEN event_type = 'view' THEN 'image/png'
                  WHEN event_type = 'purchase' THEN 'image/webp'
                  WHEN event_type = 'error' THEN 'text/html'
                  ELSE NULL END AS ct
      FROM events
    ) e GROUP BY ct, ext
    """,
)
def q_content_type_to_ext(spark, sf_dir):
    """P7: content-type -> extension CASE map
    (comprehensive_scraper.py:231-240, config.py type map)."""
    ev = load(spark, sf_dir, "events")
    ct = (
        F.when(F.col("event_type") == "click", "image/jpeg")
        .when(F.col("event_type") == "view", "image/png")
        .when(F.col("event_type") == "purchase", "image/webp")
        .when(F.col("event_type") == "error", "text/html")
    )
    return (
        ev.select(ct.alias("ct"))
        .select("ct", content_type_to_ext(F.col("ct")).alias("ext"))
        .groupBy("ct", "ext")
        .agg(F.count("*").alias("n"))
    )


@q(
    "kv_detail_parse",
    """
    SELECT lower(trim(string_split(txt, ':')[1])) AS k,
           trim(substr(txt, strpos(txt, ':') + 1)) AS v,
           COUNT(*) AS n
    FROM (SELECT CONCAT(p_brand, ': ', p_type) AS txt FROM part) t
    WHERE strpos(txt, ':') > 0
    GROUP BY k, v
    """,
)
def q_kv_detail_parse(spark, sf_dir):
    """P8: 'key: value' detail parsing (smart_cat_discovery.py:238-243)."""
    t = load(spark, sf_dir, "part").select(
        F.concat(F.col("p_brand"), F.lit(": "), F.col("p_type")).alias("txt")
    )
    k, v = key_value_map(F.col("txt"))
    return (
        t.select(k.alias("k"), v.alias("v"))
        .filter(F.col("k").isNotNull())
        .groupBy("k", "v")
        .agg(F.count("*").alias("n"))
    )


@q(
    "retention_filter",
    """
    SELECT COUNT(*) AS n_expired, MIN(event_id) AS first_expired
    FROM events WHERE ts < TIMESTAMP '2024-01-08 00:00:00'
    """,
)
def q_retention_filter(spark, sf_dir):
    """P21: age-based retention cutoff (data_manager.py:108-121) with a
    fixed literal cutoff for determinism."""
    ev = load(spark, sf_dir, "events")
    return ev.filter(F.col("ts") < "2024-01-08 00:00:00").agg(
        F.count("*").alias("n_expired"), F.min("event_id").alias("first_expired")
    )


# ===========================================================================
# X55: count-min sketch
# ===========================================================================

_CMS_W, _CMS_D = 1 << 12, 4
_CMS_PROBE_ARMS = " UNION ALL ".join(
    f"SELECT k, {r} AS row, "
    f"{portable_hash64_sql('CAST(k AS VARCHAR)', salt=f'cms{r}')}"
    f" % {_CMS_W} AS bucket FROM cms_keys"
    for r in range(_CMS_D)
)


@q(
    "cms_user_frequencies",
    f"""
    WITH t AS (SELECT user_id FROM events),
    sk AS ({cms.cms_build_sql('user_id', _CMS_W, _CMS_D)}),
    cms_keys AS (SELECT UNNEST(range(10)) AS k),
    pr AS ({_CMS_PROBE_ARMS})
    SELECT pr.k AS user_id,
           CAST(MIN(COALESCE(sk.cnt, 0)) AS BIGINT) AS estimate
    FROM pr LEFT JOIN sk ON sk.row = pr.row AND sk.bucket = pr.bucket
    GROUP BY pr.k
    """,
)
def q_cms_user_frequencies(spark, sf_dir):
    """X55: count-min sketch (operators/cms.py) — per-key frequency
    estimates from a d*w-bounded counter table (4 x 4096 cells at ANY
    key cardinality, the memory-bounded alternative to the exact
    histogram when distinct keys are themselves a dataset); probes
    broadcast the sketch (plan-gated), estimates are one-sided
    (>= truth). Both the build and the 10-key probe are twinned."""
    ev = load(spark, sf_dir, "events")
    sk = cms.cms_build(ev, "user_id", _CMS_W, _CMS_D)
    keys = spark.range(10).select(F.col("id").alias("user_id"))
    return cms.cms_query(sk, keys, "user_id", _CMS_W, _CMS_D).select(
        "user_id", "estimate"
    )


# ===========================================================================
# X57: HDR-histogram quantile sketch
# ===========================================================================

_HDR_QS = [0.05, 0.25, 0.5, 0.75, 0.95, 0.99]


@q(
    "hdr_size_quantiles",
    f"""
    WITH t AS (SELECT n_chars AS v FROM documents)
    {hdr.hdr_quantiles_sql(hdr.hdr_build_sql('v', 8), _HDR_QS)}
    """,
)
def q_hdr_size_quantiles(spark, sf_dir):
    """X57: HDR-histogram quantile sketch (operators/hdr.py) — the
    quantile member of the sketch family (HLL = distinct, CMS =
    frequency): integer-exact (exponent, mantissa-prefix) buckets,
    one-sided estimates with relative error < 2^-8, merge =
    elementwise SUM. The Spark side builds TWO half-sketches
    (doc_id parity) and merges them; the oracle builds one sketch
    over the whole table — they can only hash-match because
    sketch-of-union == union-of-sketches EXACTLY, so this row pins
    build, merge, and the quantile walk end-to-end. n_chars
    straddles the 2^8 exact-branch boundary, so both bucket laws are
    exercised."""
    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    halves = [
        hdr.hdr_build(d.filter(F.col("doc_id") % 2 == i), "n_chars", 8)
        for i in (0, 1)
    ]
    return hdr.hdr_quantiles(hdr.hdr_merge(*halves), _HDR_QS).select(
        "q", "estimate"
    )


# ===========================================================================
# X54: end-to-end curation composition
# ===========================================================================

_CUR_RELINE = r"((?:\S+\s+){7}\S+)\s+"
_TOKENS_SQL_T = (
    "CASE WHEN trim(o.text) = '' THEN 0 "
    "ELSE length(regexp_split_to_array(trim(o.text), '\\s+')) END"
)
_CUR_STOP_SQL = "[" + ",".join(f"'{w}'" for w in analysis.STOPWORDS) + "]"
# deterministic corruption + exact-copy planting, identical on both
# engines; %7 is keyed on the BASE id so a copy carries its
# original's corruption (and repairs back to the same bytes)
_CUR_LD_CTES = linededup.line_dedup_sql_ctes(
    "SELECT doc_id, text FROM cur_relined", min_chars=10, min_dup_docs=2
)


@q(
    "curation_pipeline_e2e",
    f"""
    WITH cur_inj AS (
      SELECT doc_id, source,
             CASE WHEN (doc_id % 100000000) % 7 = 0
                  THEN 'Ã© ' || text || ' â€™' ELSE text END AS text
      FROM documents
    ),
    cur_base AS (
      SELECT doc_id, source, text FROM cur_inj
      UNION ALL
      SELECT doc_id + 100000000, source, text FROM cur_inj
    ),
    cur_fixed AS (
      SELECT doc_id, source,
             {encoding.fix_encoding_sql('text')} AS text
      FROM cur_base
    ),
    cur_exact AS (
      SELECT doc_id, source, text FROM cur_fixed
      QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text)
                                 ORDER BY doc_id) = 1
    ),
    cur_relined AS (
      SELECT doc_id, source,
             regexp_replace(text, '{_CUR_RELINE}', '\\1' || chr(10), 'g') AS text
      FROM cur_exact
    ),
    {_CUR_LD_CTES},
    cur_adm AS (
      SELECT o.doc_id, e.source, o.text,
        CASE
          WHEN o.text IS NULL OR length(o.text) < 50 THEN 'too_short'
          WHEN length(o.text) > 5000 THEN 'too_long'
          WHEN (CASE WHEN ({_TOKENS_SQL_T}) > 0
                THEN length(o.text) * 1.0 / ({_TOKENS_SQL_T}) ELSE 0.0 END) < 2
            OR (CASE WHEN ({_TOKENS_SQL_T}) > 0
                THEN length(o.text) * 1.0 / ({_TOKENS_SQL_T}) ELSE 0.0 END) > 12
            THEN 'word_length'
          WHEN (CASE WHEN length(o.text) = 0 THEN 0.0
                ELSE (length(o.text) - length(regexp_replace(o.text, '[.,!?;:]', '', 'g'))) * 1.0 / length(o.text) END) >= 0.1
            THEN 'punctuation'
          WHEN (CASE WHEN length(regexp_split_to_array(lower(trim(o.text)), '\\s+')) = 0 THEN 0.0
                ELSE length(list_filter(regexp_split_to_array(lower(trim(o.text)), '\\s+'),
                       w -> list_contains({_CUR_STOP_SQL}, w))) * 1.0
                     / length(regexp_split_to_array(lower(trim(o.text)), '\\s+')) END) < 0.05
            OR (CASE WHEN length(regexp_split_to_array(lower(trim(o.text)), '\\s+')) = 0 THEN 0.0
                ELSE length(list_filter(regexp_split_to_array(lower(trim(o.text)), '\\s+'),
                       w -> list_contains({_CUR_STOP_SQL}, w))) * 1.0
                     / length(regexp_split_to_array(lower(trim(o.text)), '\\s+')) END) > 0.6
            THEN 'stopwords'
        END AS reason,
        CASE WHEN trim(o.text) = '' THEN 0
             ELSE length(regexp_split_to_array(trim(o.text), '\\s+')) END AS n_tokens
      FROM ld_docs_out o JOIN cur_exact e ON e.doc_id = o.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(CASE WHEN reason IS NULL THEN 1 END), 0) AS BIGINT) AS n_admitted,
           CAST(COALESCE(SUM(CASE WHEN reason IS NULL THEN n_tokens END), 0) AS BIGINT) AS n_tokens,
           md5(COALESCE(string_agg(md5(text), '' ORDER BY doc_id)
                        FILTER (WHERE reason IS NULL), '')) AS corpus_md5
    FROM cur_adm GROUP BY source
    """,
)
def q_curation_pipeline_e2e(spark, sf_dir):
    """X54: the end-to-end curation composition (curation.curate_corpus
    — X43 repair -> X1 exact dedup -> X41 line dedup -> X12 admission,
    in production order) over a corpus with PLANTED work for every
    stage: deterministic mojibake on base-id%7 docs and verbatim
    copies at +1e8 ids. The copies repair to identical bytes (stage 1
    feeds stage 2), die at exact dedup, and the per-source report pins
    the final corpus byte-exactly (md5 over the admitted docs'
    id-ordered content hashes) — a divergence in ANY stage on either
    engine breaks the hash."""
    d = load(spark, sf_dir, "documents")
    inj = d.select(
        "doc_id",
        "source",
        F.when(
            (F.col("doc_id") % 100000000) % 7 == 0,
            F.concat(F.lit("Ã© "), F.col("text"), F.lit(" â€™")),
        ).otherwise(F.col("text")).alias("text"),
    )
    base = inj.unionByName(
        inj.select(
            (F.col("doc_id") + 100000000).alias("doc_id"), "source", "text"
        )
    )
    ledger = curation.curate_corpus(
        base, reline_words=8, min_chars=10, min_dup_docs=2
    )
    kept_hash = F.when(F.col("keep"), F.struct(F.col("doc_id"), F.md5("text").alias("m")))
    return ledger.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.coalesce(F.sum(F.col("keep").cast("long")), F.lit(0)).alias("n_admitted"),
        F.coalesce(F.sum(F.when(F.col("keep"), F.col("n_tokens"))), F.lit(0)).alias("n_tokens"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_hash)), lambda x: x["m"]
                ),
                "",
            )
        ).alias("corpus_md5"),
    )


# ===========================================================================
# X53: relational HyperLogLog
# ===========================================================================

_HLL_P = 12


@q(
    "hll_event_cardinality",
    f"""
    WITH t AS (SELECT event_id FROM events),
    est AS ({hll.hll_estimate_sql(hll.hll_registers_sql('event_id', _HLL_P), _HLL_P)})
    SELECT m, occupied, zeros,
           ROUND(raw_estimate, 6) AS raw_estimate,
           ROUND(estimate, 6) AS estimate
    FROM est
    """,
)
def q_hll_event_cardinality(spark, sf_dir):
    """X53: engine-portable HyperLogLog (operators/hll.py) — the
    sketch as PLAIN (bucket, register) rows so it persists next to
    snapshots, merges across days with one groupBy-max, and
    re-checks in any engine; register table <= 4096 rows at any
    corpus size. event_id cardinality crosses the linear-counting /
    raw-HLL branch boundary between sf tiers, so BOTH estimator
    branches get oracle-matched."""
    ev = load(spark, sf_dir, "events")
    est = hll.hll_estimate(hll.hll_registers(ev, "event_id", _HLL_P), _HLL_P)
    return est.select(
        "m",
        "occupied",
        "zeros",
        F.round("raw_estimate", 6).alias("raw_estimate"),
        F.round("estimate", 6).alias("estimate"),
    )


# ===========================================================================
# X52: Z-order layout keys
# ===========================================================================

@q(
    "zorder_keys",
    f"""
    SELECT event_id, user_id,
           {layout.morton_key_sql('user_id', 'event_id')} AS zkey
    FROM events
    """,
)
def q_zorder_keys(spark, sf_dir):
    """X52: 2-D Morton interleave (layout.morton_key) — the write-time
    clustering key behind zorder_write's multi-column pruning; pure
    bit arithmetic (5 spread steps per column, JVM codegen), twin runs
    the same shifts/masks verbatim. The pruning evidence itself (box
    predicates touch a fraction of files on either column) is the
    files_touched contract in tests/test_layout.py."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        layout.morton_key(F.col("user_id"), F.col("event_id")).alias("zkey"),
    )


# ===========================================================================
# X51: distributed PCA / whitening
# ===========================================================================

_PCA_DIM = 64


@q(
    "embedding_gram",
    f"""
    WITH emb AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    idx AS (SELECT UNNEST(range({_PCA_DIM})) AS i),
    g AS (
      SELECT a.i AS i, b.i AS j, SUM(e[a.i + 1] * e[b.i + 1]) AS v
      FROM emb CROSS JOIN idx a CROSS JOIN idx b
      GROUP BY 1, 2
    ),
    m AS (
      SELECT a.i AS i, CAST(-1 AS BIGINT) AS j,
             SUM(e[a.i + 1]) / COUNT(*) AS v
      FROM emb CROSS JOIN idx a GROUP BY 1, 2
    )
    SELECT i, j, ROUND(v, 6) AS v FROM g
    UNION ALL
    SELECT i, j, ROUND(v, 6) AS v FROM m
    """,
)
def q_embedding_gram(spark, sf_dir):
    """X51: the distributed second-moment reduce behind PCA
    (projection.second_moments) — ONE Arrow pass emits per-PARTITION
    [n, sum, X^T X] partials, one posexplode+sum reduces them to
    d^2 + d + 1 scalars (the corpus is scanned once; what shuffles is
    partition-count-sized). Output: all 64x64 Gram entries plus the
    mean vector as j=-1 rows; the oracle recomputes both from raw
    rows, so a lost batch / double-counted partition / transposed
    index on either side breaks the hash."""
    e = load(spark, sf_dir, "embeddings").select(
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    n, s, ss = projection.second_moments(e, _PCA_DIM)
    rows = [
        (i, j, float(ss[i, j]))
        for i in range(_PCA_DIM)
        for j in range(_PCA_DIM)
    ] + [(i, -1, float(s[i] / n)) for i in range(_PCA_DIM)]
    return spark.createDataFrame(rows, "i long, j long, v double").select(
        "i", "j", F.round("v", 6).alias("v")
    )


# seeded literal components/mean/scales (the _ann_planes_values
# convention: NOT data-derived, shared verbatim with the oracle) —
# they pin the map-side projection fold; training itself is pinned by
# the numpy mirror in tests/test_projection.py (eigh has no SQL twin)
_PCA_W = similarity._hyperplanes(_PCA_DIM, 4, seed=11)
_PCA_MEAN = [0.01 * w for w in similarity._hyperplanes(_PCA_DIM, 1, seed=13)[0]]
_PCA_SCALES = [0.5, 1.0, 2.0, 4.0]


@q(
    "pca_projection",
    f"""
    WITH emb AS (SELECT vec_id, embedding FROM embeddings)
    SELECT vec_id,
           {", ".join(
               f"ROUND({projection.projection_fold_sql('embedding', projection.sql_matrix_literal(_PCA_W), j, _PCA_DIM, projection.sql_vector_literal(_PCA_MEAN))} * {projection._dlit(_PCA_SCALES[j])}, 6) AS p{j}"
               for j in range(4)
           )}
    FROM emb
    """,
)
def q_pca_projection(spark, sf_dir):
    """X51: the map-side projection kernel (projection.project_col) —
    center, per-component FIXED-ORDER fold, whitening scale; pure
    Column codegen, zero shuffles. Components/mean/scales are seeded
    literals shared verbatim with the oracle, whose
    list_aggregate('sum') runs the SAME left-to-right fold over the
    SAME string-cast double literals — bit-identical before the 6-dp
    round (tests/test_projection.py asserts ==)."""
    e = load(spark, sf_dir, "embeddings")
    proj = projection.project_col(
        F.col("embedding"), _PCA_W, _PCA_MEAN, _PCA_SCALES
    )
    return e.select(
        "vec_id",
        *[F.round(proj.getItem(j), 6).alias(f"p{j}") for j in range(4)],
    )


# ===========================================================================
# X50: key-skew diagnosis
# ===========================================================================

_SKEW_CTES = """
    c AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM events GROUP BY user_id),
    t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
                 CAST(COUNT(*) AS BIGINT) AS n_keys,
                 CAST(MAX(cnt) AS BIGINT) AS max_cnt FROM c)
"""


@q(
    "key_skew_events",
    f"""
    WITH {_SKEW_CTES},
    e AS (
      SELECT -SUM((cnt / t.n_rows) * ln(cnt / t.n_rows)) AS ent
      FROM c CROSS JOIN t
    )
    SELECT t.n_rows, t.n_keys, t.max_cnt,
           ROUND(t.max_cnt / t.n_rows, 6) AS top1_share,
           ROUND((t.max_cnt * t.n_keys) / t.n_rows, 6) AS skew_factor,
           ROUND(CASE WHEN t.n_keys = 1 THEN 1.0
                      ELSE e.ent / ln(t.n_keys) END, 6) AS norm_entropy,
           CAST(CEIL((t.max_cnt * t.n_keys) / t.n_rows) AS BIGINT) AS n_salts
    FROM t CROSS JOIN e
    """,
)
def q_key_skew_events(spark, sf_dir):
    """X50: shuffle-key skew diagnosis (stats.key_skew_report) — the
    measurement run BEFORE an expensive join to choose between plain
    equi-join, AQE skew handling, and explicit salting (n_salts =
    ceil(skew_factor) levels the hottest key to mean load). One
    histogram aggregate + a 1-row broadcast back; the entropy sum's
    partial-agg order is absorbed by the 6-dp rounding."""
    ev = load(spark, sf_dir, "events")
    r = stats.key_skew_report(ev, ["user_id"])
    return r.select(
        "n_rows",
        "n_keys",
        "max_cnt",
        F.round("top1_share", 6).alias("top1_share"),
        F.round("skew_factor", 6).alias("skew_factor"),
        F.round("norm_entropy", 6).alias("norm_entropy"),
        "n_salts",
    )


@q(
    "hot_keys_events",
    f"""
    WITH {_SKEW_CTES}
    SELECT user_id, cnt, ROUND(cnt / t.n_rows, 6) AS share
    FROM c CROSS JOIN t
    ORDER BY cnt DESC, user_id ASC LIMIT 10
    """,
)
def q_hot_keys_events(spark, sf_dir):
    """X50: the 10 hottest keys with row shares (stats.hot_keys) —
    cnt desc / key asc total order, TakeOrderedAndProject plan."""
    ev = load(spark, sf_dir, "events")
    return stats.hot_keys(ev, ["user_id"], k=10).select(
        "user_id", "cnt", F.round("share", 6).alias("share")
    )


# ===========================================================================
# X49: bucketized range join (IP-to-ASN enrichment shape)
# ===========================================================================

_RJ_W = 1 << 24  # bucket width = /8-ish block granularity
_RJ_IP = f"{portable_hash64_sql('CAST(event_id AS VARCHAR)', salt='ip')} % 4294967296"


@q(
    "ip_range_enrichment",
    f"""
    WITH pts AS (
      SELECT event_id, {_RJ_IP} AS ip FROM events
    ),
    rng AS (
      SELECT 64500 + i AS asn,
             i * {_RJ_W} AS lo,
             i * {_RJ_W} + ((i % 3) + 1) * {_RJ_W} - 1 AS hi
      FROM (SELECT UNNEST(range(256)) AS i)
    )
    SELECT r.asn, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(p.ip) AS BIGINT) AS min_ip,
           CAST(MAX(p.ip) AS BIGINT) AS max_ip
    FROM pts p JOIN rng r ON p.ip BETWEEN r.lo AND r.hi
    GROUP BY r.asn
    """,
)
def q_ip_range_enrichment(spark, sf_dir):
    """X49: point-in-interval enrichment as a bucketized EQUI-join
    (temporal.range_join) — hash-derived IPs against 256 OVERLAPPING
    ASN blocks (spans of 1-3 buckets). Naive Spark plans this theta
    join as BroadcastNestedLoopJoin; the bucket explode + equi-join +
    residual filter form is gated BNLJ-free in tests/test_range_join
    and the exactly-once guarantee means no dedup pass. The oracle
    runs the plain BETWEEN join."""
    from webscrape_neko_jirushi_spark.operators.temporal import range_join

    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        "event_id",
        (
            portable_hash64(F.col("event_id").cast("string"), salt="ip")
            % F.lit(4294967296)
        ).alias("ip"),
    )
    rng = spark.range(256).select(
        (F.col("id") + 64500).alias("asn"),
        (F.col("id") * _RJ_W).alias("lo"),
        (F.col("id") * _RJ_W + ((F.col("id") % 3) + 1) * _RJ_W - 1).alias("hi"),
    )
    joined = range_join(pts, rng, "ip", bucket_width=_RJ_W)
    return joined.groupBy("asn").agg(
        F.count("*").alias("n_events"),
        F.min("ip").alias("min_ip"),
        F.max("ip").alias("max_ip"),
    )


# ===========================================================================
# events: sessionization + time rollups (T8 batch analog)
# ===========================================================================

@q(
    "asof_click_view",
    """
    WITH v0 AS (
      SELECT user_id, ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
      FROM events WHERE event_type = 'view'
    ),
    views AS (SELECT user_id, ts, value FROM v0 WHERE rn = 1),
    clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
    SELECT c.event_id, c.user_id,
           v.value AS asof_value,
           CAST(epoch_us(c.ts) - epoch_us(v.ts) AS BIGINT) AS asof_lag_us
    FROM clicks c ASOF LEFT JOIN views v
      ON c.user_id = v.user_id AND c.ts >= v.ts
    """,
)
def q_asof_click_view(spark, sf_dir):
    """Backward as-of join (a builtin Spark lacks): every click gets
    the latest prior-or-equal view of the same user — union + running
    last(ignorenulls) window, one shuffle, no range-join explosion.
    Oracle: DuckDB's NATIVE ASOF LEFT JOIN (independent semantics)."""
    from webscrape_neko_jirushi_spark.operators.temporal import asof_join

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    views = (
        e.filter(F.col("event_type") == "view")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "ts", "value")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    j = asof_join(clicks, views, on="user_id", value_cols=("value",))
    return j.select(
        "event_id",
        "user_id",
        "asof_value",
        # parquet ts is TIMESTAMP_NTZ; the session runs UTC so the cast
        # to TIMESTAMP is identity and unix_micros applies
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("asof_ts").cast("timestamp"))
        )
        .cast("long")
        .alias("asof_lag_us"),
    )


@q(
    "sessionize_events",
    """
    SELECT user_id, COUNT(DISTINCT session_id) AS n_sessions, COUNT(*) AS n_events
    FROM (
      SELECT user_id,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM (
        SELECT user_id, ts, event_id,
          CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    > INTERVAL 30 MINUTE OR
                    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
               THEN 1 ELSE 0 END AS new_session
        FROM events
      ) g
    ) s GROUP BY user_id
    """,
)
def q_sessionize_events(spark, sf_dir):
    """Sessionization: lag + gap>30min cumulative sum (the batch form of
    session windows; the crawl epoch loop is the streaming analog)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ in the driver parquet; route through ltz
    # (session tz pinned UTC) to get epoch microseconds. The gap is
    # compared exactly, as the twin's interval comparison does: whole
    # seconds would drop the fraction of an 1800.5 s gap
    micros = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    gap = micros - F.lag(micros).over(w)
    new_session = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    sessions = ev.withColumn("new_session", new_session).withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sessions.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


@q(
    "hourly_event_rollup",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events GROUP BY hour, event_type
    """,
)
def q_hourly_event_rollup(spark, sf_dir):
    """T8 batch analog: tumbling-window aggregation over event time
    (the streaming wrapper reuses this exact plan via foreachBatch)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00").alias("hour"),
        "event_type",
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
    )


@q(
    "dataset_stats_rollup",
    f"""
    SELECT COALESCE(doc_id, '<TOTAL>') AS doc_id,
           COUNT(*) AS n_images,
           ROUND(SUM(size_bytes) / 1048576.0, 3) AS total_mb
    FROM ({IMAGES_ANALOG_SQL}) i GROUP BY ROLLUP(doc_id)
    """,
)
def q_dataset_stats_rollup(spark, sf_dir):
    """A6: per-cat size rollup + grand totals (data_manager.py:27-61)."""
    return stats.dataset_stats(_images(spark, sf_dir))


@q(
    "per_extension_counts",
    f"""
    SELECT lower(regexp_extract(filename, '\\.([A-Za-z0-9]+)$', 1)) AS ext,
           COUNT(*) AS n
    FROM ({IMAGES_ANALOG_SQL}) i GROUP BY ext
    """,
)
def q_per_extension_counts(spark, sf_dir):
    """A10/A4: per-extension tallies (reorganize_dataset.py:186-188)."""
    return stats.per_extension_counts(_images(spark, sf_dir))


@q(
    "before_after_with_reasons",
    f"""
    SELECT doc_id, COUNT(*) AS images_before,
           CAST(SUM(CASE WHEN reason IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS images_after,
           COALESCE(string_agg(reason, ';' ORDER BY reason), '') AS reasons
    FROM ({_ADV_CASCADE_SQL}) c GROUP BY doc_id
    """,
)
def q_before_after_with_reasons(spark, sf_dir):
    """A2: per-group before/after detail rows with the removal-reason
    list (advanced_cleaning.py:198-204), reasons as a sorted joined
    string for engine-portable comparison."""
    cascaded = cleaning.advanced_cascade(_images(spark, sf_dir))
    return cascaded.groupBy("doc_id").agg(
        F.count("*").alias("images_before"),
        F.sum(F.col("reason").isNull().cast("long")).alias("images_after"),
        F.concat_ws(";", F.sort_array(F.collect_list("reason"))).alias("reasons"),
    )


@q(
    "sanitize_filenames",
    """
    SELECT raw,
      COALESCE(NULLIF(substr(trim('_' FROM regexp_replace(regexp_replace(raw,
        '[^a-zA-Z0-9_ -]', '', 'g'), '[-\\s]+', '_', 'g')), 1, 50), ''), 'unknown_cat') AS clean
    FROM (SELECT CONCAT(p_name, '!! ', p_brand, '  - #', CAST(p_size AS VARCHAR)) AS raw FROM part) t
    """,
)
def q_sanitize_filenames(spark, sf_dir):
    """P6: the filename sanitizer (reorganize_dataset.py:59-70) over
    punctuation-dirty names."""
    from webscrape_neko_jirushi_spark.functions.text import sanitize_filename

    raw = load(spark, sf_dir, "part").select(
        F.concat(
            F.col("p_name"), F.lit("!! "), F.col("p_brand"), F.lit("  - #"),
            F.col("p_size").cast("string"),
        ).alias("raw")
    )
    return raw.select("raw", sanitize_filename(F.col("raw")).alias("clean"))


# ===========================================================================
# text analysis (lang-id, quality, tokens, fingerprints)
# ===========================================================================

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

# duplicate-planted corpus: originals + exact copies + near copies.
# The planted-id offsets MUST clear any tier's real id range: r4 used
# +10000/+20000, which collide with real doc_ids at the sf1 tier
# (50,000 docs) — and colliding ids merge differently in the two
# engines (simhash_signatures groups by id, the per-row SQL twin does
# not), a divergence the sf1 oracle leg caught (BENCH/run_sf1.py).
_DUP_OFF = 100_000_000
_CORPUS_SQL = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_DUP_OFF} AS doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {2 * _DUP_OFF} AS doc_id, CONCAT(text, ' extra tail token') AS text
  FROM documents WHERE doc_id % 2 = 0
"""


def _corpus(spark, sf_dir):
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    exact = d.select((F.col("doc_id") + _DUP_OFF).alias("doc_id"), "text")
    near = d.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + 2 * _DUP_OFF).alias("doc_id"),
        F.concat("text", F.lit(" extra tail token")).alias("text"),
    )
    c = d.unionByName(exact).unionByName(near)
    # one hash repartition on doc_id right after the union: the sf
    # documents file is a single row group (1-task scan), so every
    # per-doc pipeline above this corpus — shingling, MinHash md5,
    # SimHash token hashing — would otherwise run single-threaded on
    # local[N]. Keyed on doc_id the exchange is REUSED by downstream
    # groupBy/window/distinct on the id (guide §2.4); no-op at scale
    # (see fanout.fan_out). Measured r6: simhash signature pass
    # 1.8 s -> 1.3 s, minhash map stage ~9x.
    return fan_out(
        c,
        "doc_id",
        splits=3 * scan_splits(spark, f"{sf_dir}/documents.parquet"),
    )


@q(
    "doc_token_stats",
    """
    SELECT doc_id,
      CASE WHEN trim(text) = '' THEN 0 ELSE length(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
      length(text) AS n_chars,
      ROUND(length(regexp_replace(text, '[.,!?;:]', '', 'g')) * 1.0 / length(text), 6) AS non_punct_ratio
    FROM documents
    """,
)
def q_doc_token_stats(spark, sf_dir):
    """Token counting + punctuation profile over documents (text
    pipeline ops; pure Column logic)."""
    d = load(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        analysis.token_count(t).alias("n_tokens"),
        F.length(t).alias("n_chars"),
        F.round(1.0 - analysis.punct_ratio(t), 6).alias("non_punct_ratio"),
    )


@q(
    "bpe_token_counts",
    f"""
    SELECT doc_id,
      CAST(list_aggregate(list_transform(regexp_split_to_array(trim(text), '\\s+'),
        w -> CAST(ceil(length(regexp_replace(w, '[^a-zA-Z0-9_]', '', 'g')) / 4.0) AS BIGINT)
             + length(regexp_replace(w, '[a-zA-Z0-9_\\s]', '', 'g'))), 'sum') AS BIGINT) AS bpe_tokens
    FROM documents
    """,
)
def q_bpe_token_counts(spark, sf_dir):
    """Sub-word (BPE-ish) token sizing: per word ceil(len/4) word-char
    chunks + one token per punctuation char — deterministic stand-in
    for tokenizer-based corpus sizing."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id", analysis.bpe_ish_token_count(F.col("text")).alias("bpe_tokens")
    )


_TOKENS_SQL = "CASE WHEN trim(text) = '' THEN 0 ELSE length(regexp_split_to_array(trim(text), '\\s+')) END"
_STOPWORDS_SQL = "['the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','be','this','that','are']"


@q(
    "training_text_filter",
    f"""
    SELECT doc_id, reason, reason IS NULL AS keep FROM (
      SELECT doc_id,
        CASE
          WHEN n IS NULL OR n < 50 THEN 'too_short'
          WHEN n > 5000 THEN 'too_long'
          WHEN mean_wl < 2 OR mean_wl > 12 THEN 'word_length'
          WHEN punct >= 0.1 THEN 'punctuation'
          WHEN stopr < 0.05 OR stopr > 0.6 THEN 'stopwords'
        END AS reason
      FROM (
        SELECT doc_id, length(text) AS n,
          CASE WHEN {_TOKENS_SQL} > 0
               THEN length(text) * 1.0 / ({_TOKENS_SQL}) ELSE 0.0 END AS mean_wl,
          CASE WHEN length(text) = 0 THEN 0.0
               ELSE (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) * 1.0 / length(text) END AS punct,
          CASE WHEN length(regexp_split_to_array(lower(trim(text)), '\\s+')) = 0 THEN 0.0
               ELSE length(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                      w -> list_contains({_STOPWORDS_SQL}, w))) * 1.0
                    / length(regexp_split_to_array(lower(trim(text)), '\\s+')) END AS stopr
        FROM documents
      ) m
    ) r
    """,
)
def q_training_text_filter(spark, sf_dir):
    """Training-set admission cascade over documents: first-match-wins
    reject reason (length / word-length / punctuation / stopword-band),
    NULL = keep — the text twin of the image cascades (P18/P20)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return analysis.training_filter(d).select("doc_id", "reason", "keep")


@q(
    "doc_chunking",
    """
    SELECT doc_id, CAST(u.x.idx AS INTEGER) AS chunk_idx,
           CAST(length(regexp_split_to_array(u.x.chunk, '\\s+')) AS INTEGER) AS n_chunk_tokens,
           md5(u.x.chunk) AS chunk_md5
    FROM (
      SELECT doc_id,
        CASE WHEN trim(text) = '' THEN []
             ELSE list_transform(
                    list_filter(range(0, length(regexp_split_to_array(trim(text), '\\s+')), 112),
                      s -> s = 0 OR s + 16 < length(regexp_split_to_array(trim(text), '\\s+'))),
                    s -> struct_pack(idx := s // 112,
                           chunk := array_to_string(regexp_split_to_array(trim(text), '\\s+')[s+1:s+128], ' ')))
        END AS chunks
      FROM documents
    ) c, LATERAL UNNEST(c.chunks) AS u(x)
    """,
)
def q_doc_chunking(spark, sf_dir):
    """Pre-training chunk sharding: 128-token windows, 16-token overlap
    (stride 112), one row per chunk; compared by chunk md5 + token
    count. Map-side posexplode — no shuffle."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    ch = analysis.chunk_spans(d, chunk_tokens=128, overlap=16)
    return ch.select(
        "doc_id",
        "chunk_idx",
        "n_chunk_tokens",
        F.md5(F.col("chunk_text")).alias("chunk_md5"),
    )


@q(
    "doc_lang_quality",
    f"""
    SELECT lang_pred, quality, COUNT(*) AS n FROM (
      SELECT
        CASE WHEN (length(text) - length(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g'))) * 1.0
                  / length(text) > 0.3 THEN 'ja' ELSE 'en' END AS lang_pred,
        (CASE WHEN length(text) BETWEEN 50 AND 5000 THEN 1 ELSE 0 END
         + CASE WHEN length(regexp_split_to_array(trim(text), '\\s+')) > 0
                 AND length(text) * 1.0 / length(regexp_split_to_array(trim(text), '\\s+')) BETWEEN 2 AND 12
                THEN 1 ELSE 0 END
         + CASE WHEN (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) * 1.0 / length(text) < 0.1 THEN 1 ELSE 0 END
         + CASE WHEN length(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                  w -> list_contains(['the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','be','this','that','are'], w)))
                 * 1.0 / length(regexp_split_to_array(lower(trim(text)), '\\s+')) BETWEEN 0.05 AND 0.6
                THEN 1 ELSE 0 END) AS quality
      FROM documents
    ) s GROUP BY lang_pred, quality
    """,
)
def q_doc_lang_quality(spark, sf_dir):
    """Language-ID (non-ASCII-ratio heuristic) + 0-4 quality score
    histogram (the text twin of the cleanup scoring P18)."""
    d = load(spark, sf_dir, "documents")
    t = F.col("text")
    return (
        d.select(
            analysis.lang_id(t).alias("lang_pred"),
            analysis.quality_score(t).alias("quality"),
        )
        .groupBy("lang_pred", "quality")
        .agg(F.count("*").alias("n"))
    )


@q(
    "fingerprint_dup_groups",
    f"""
    SELECT fp, COUNT(*) AS n_members FROM (
      SELECT {portable_hash64_sql(_NORM)} AS fp FROM ({_CORPUS_SQL})
    ) t GROUP BY fp HAVING COUNT(*) > 1
    """,
)
def q_fingerprint_dup_groups(spark, sf_dir):
    """Exact near-identity dedup groups by normalized-text fingerprint
    (the crawl-corpus twin of A8 md5 grouping)."""
    c = _corpus(spark, sf_dir)
    return (
        c.select(analysis.fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_members"))
        .filter(F.col("n_members") > 1)
    )


@q(
    "exact_dedup_survivors",
    f"""
    SELECT doc_id FROM (
      SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM (
        SELECT doc_id, {portable_hash64_sql(_NORM)} AS fp FROM ({_CORPUS_SQL})
      ) t
    ) r WHERE rn = 1
    """,
)
def q_exact_dedup_survivors(spark, sf_dir):
    """W1 on text: keep-first per fingerprint group."""
    c = _corpus(spark, sf_dir).withColumn(
        "fp", analysis.fingerprint(F.col("text"))
    )
    return dedup.exact_dedup(c, "fp", ["doc_id"]).select("doc_id")


# ===========================================================================
# near-dup family: minhash / LSH / n-gram jaccard / simhash
# ===========================================================================

_K_SHINGLE = 5
_N_MINHASH = 16
_WORDS = f"regexp_split_to_array({_NORM}, ' ')"
_SHINGLES = f"""(
  CASE WHEN length({_WORDS}) < {_K_SHINGLE}
       THEN [array_to_string({_WORDS}, ' ')]
       ELSE list_transform(range(0, length({_WORDS}) - {_K_SHINGLE} + 1),
              i -> array_to_string({_WORDS}[i+1:i+{_K_SHINGLE}], ' '))
  END)"""


def _minhash_sql_cols() -> str:
    """Kirsch-Mitzenmacher MinHash twin of dedup.minhash_signatures:
    one md5 per shingle, h_i = h1 + i*h2 over its 48-bit halves."""
    cols = [
        f"list_aggregate(list_transform(hs, h -> h.h1 + {i} * h.h2), 'min') AS mh_{i}"
        for i in range(_N_MINHASH)
    ]
    return ",\n      ".join(cols)


_MINHASH_HS_SQL = f"""list_transform({_SHINGLES}, s -> struct_pack(
        h1 := CAST(CONCAT('0x', substr(md5(s), 1, 12)) AS BIGINT),
        h2 := CAST(CONCAT('0x', substr(md5(s), 13, 12)) AS BIGINT) | 1)) AS hs"""

# DuckDB twin of dedup.simhash_signatures (one md5 per token, 60
# majority counters): shared between the simhash_near_dups oracle
# below and tests/test_fuzz_simhash.py, so the fuzz leg indicts the
# exact expression the driver gate runs.
_SIMHASH_SQL = f"""list_aggregate(list_transform(range(0, 60), i ->
          CASE WHEN 2 * length(list_filter(
                 list_transform({_WORDS}, w -> CAST(CONCAT('0x', substr(md5(w), 1, 15)) AS BIGINT)),
                 h -> (h >> i) & 1 = 1))
               > length({_WORDS})
               THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END), 'sum')"""


@q(
    "minhash_signatures",
    f"""
    SELECT doc_id,
      {_minhash_sql_cols()}
    FROM (SELECT doc_id, {_MINHASH_HS_SQL} FROM documents) t
    """,
)
def q_minhash_signatures(spark, sf_dir):
    """MinHash signatures (16 portable hash functions over word
    5-shingles) — builtin HOFs only. Fanned out first: the plan is
    pure map-side, so on the single-row-group sf file it would
    otherwise run as ONE task (r6 measured 3.7 s -> 0.4 s on
    local[32])."""
    d = fan_out(
        load(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id",
        splits=scan_splits(spark, f"{sf_dir}/documents.parquet"),
    )
    return dedup.minhash_signatures(d, "text", "doc_id", _N_MINHASH, _K_SHINGLE)


_MINHASH_CORPUS_SQL = f"""
    SELECT doc_id,
      {_minhash_sql_cols()}
    FROM (SELECT doc_id, {_MINHASH_HS_SQL} FROM ({_CORPUS_SQL}) c) t
"""

def _band_sql_values() -> str:
    rows = []
    for b in range(4):
        concat = ", '|', ".join(f"CAST(mh_{b * 4 + r} AS VARCHAR)" for r in range(4))
        rows.append(
            f"({b}, CAST(CONCAT('0x', substr(md5(CONCAT({concat})), 1, 15)) AS BIGINT))"
        )
    return ", ".join(rows)


_BAND_SQL = _band_sql_values()


@q(
    "lsh_candidate_pairs",
    f"""
    WITH sigs AS ({_MINHASH_CORPUS_SQL}),
    banded AS (
      SELECT doc_id, b.band, b.bh
      FROM sigs, LATERAL (VALUES {_BAND_SQL}) AS b(band, bh)
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    """,
)
def q_lsh_candidate_pairs(spark, sf_dir):
    """MinHash-LSH: 4 bands x 4 rows; band-hash bucket self-join ->
    candidate near-dup pairs."""
    sigs = dedup.minhash_signatures(
        _corpus(spark, sf_dir), "text", "doc_id", _N_MINHASH, _K_SHINGLE
    )
    return dedup.lsh_candidate_pairs(sigs, "doc_id", _N_MINHASH, 4)


_NGRAM_PAIRS_SQL = f"""
    WITH sigs AS ({_MINHASH_CORPUS_SQL}),
    banded AS (
      SELECT doc_id, b.band, b.bh
      FROM sigs, LATERAL (VALUES {_BAND_SQL}) AS b(band, bh)
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    ),
    ex AS (
      SELECT DISTINCT doc_id, s.sh
      FROM ({_CORPUS_SQL}) c, LATERAL UNNEST({_SHINGLES}) AS s(sh)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM ex GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, n_common,
           ROUND(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
    FROM inter
    JOIN cands USING (id_a, id_b)
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.5
"""


def _ngram_pairs(spark, sf_dir):
    # One shingling pass feeds BOTH stages (r6): the checkpointed
    # distinct-shingle SETS drive the MinHash signatures (min over
    # distinct == min over all) AND the exact verify, which intersects
    # the per-doc arrays per candidate pair (codegen array_intersect)
    # instead of re-exploding shingle rows through a distinct + two
    # joins — 5 exchanges -> 2 on the verify side, identical values
    # (see ngram_jaccard_from_sets). Measured r6: 10.2 s -> ~3 s end
    # to end.
    c = _corpus(spark, sf_dir)
    sets = dedup.shingle_sets(c, "text", "doc_id", _K_SHINGLE).localCheckpoint(
        eager=True
    )
    sigs = dedup.minhash_signatures_from_shingles(sets, "doc_id", _N_MINHASH)
    cands = dedup.lsh_candidate_pairs(sigs, "doc_id", _N_MINHASH, 4)
    return dedup.ngram_jaccard_from_sets(sets, cands, "doc_id", 0.5)


@q("ngram_jaccard_pairs", _NGRAM_PAIRS_SQL)
def q_ngram_jaccard_pairs(spark, sf_dir):
    """Exact word-5-gram Jaccard >= 0.5 verify RESTRICTED to MinHash-LSH
    candidates — the scale form: the shingle-intersection join is driven
    by the candidate pairs (two equi-joins), never the full self-join.
    Candidate generation is the same 4x4 banding as
    ``lsh_candidate_pairs``."""
    return _ngram_pairs(spark, sf_dir).withColumn(
        "jaccard", F.round("jaccard", 6)
    )


@q(
    "near_dup_clusters",
    f"""
    WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ({_NGRAM_PAIRS_SQL}) p),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL
      SELECT id_b AS a, id_a AS b FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach AS (
      SELECT id AS node, id AS label FROM nodes
      UNION
      SELECT e.b AS node, r.label FROM reach r JOIN edges e ON e.a = r.node
    )
    SELECT node AS doc_id, MIN(label) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def q_near_dup_clusters(spark, sf_dir):
    """Cluster assignment: connected components (min-label propagation)
    over the LSH-verified jaccard>=0.5 pair set — the step that turns
    pair evidence into duplicate groups for keep-one-per-cluster dedup.
    Oracle: recursive-CTE min-reachable-id over the same edges."""
    pairs = _ngram_pairs(spark, sf_dir)
    return dedup.connected_components(pairs).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )


# X45: quality-argmax keep policy — clusters + per-member quality,
# shared by the per-cluster stats query and the kept-corpus rollup.
# Quality = length(text): integer-exact on both engines (RefinedWeb's
# keep-longest policy, Penedo et al. 2023 §4.2).
_CLUSTERS_SQL = f"""
    WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ({_NGRAM_PAIRS_SQL}) p),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL
      SELECT id_b AS a, id_a AS b FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach AS (
      SELECT id AS node, id AS label FROM nodes
      UNION
      SELECT e.b AS node, r.label FROM reach r JOIN edges e ON e.a = r.node
    ),
    clusters AS (
      SELECT node AS doc_id, MIN(label) AS cluster_id
      FROM reach GROUP BY node
    ),
    corpus AS (SELECT doc_id, text FROM ({_CORPUS_SQL}) cc),
    members AS (
      SELECT cl.cluster_id, co.doc_id, length(co.text) AS q
      FROM clusters cl JOIN corpus co ON co.doc_id = cl.doc_id
    )
"""


@q(
    "canonical_selection",
    f"""
    {_CLUSTERS_SQL}
    SELECT cluster_id, n_docs, kept_id, kept_quality, q_min FROM (
      SELECT cluster_id,
             COUNT(*) OVER (PARTITION BY cluster_id) AS n_docs,
             doc_id AS kept_id, q AS kept_quality,
             MIN(q) OVER (PARTITION BY cluster_id) AS q_min,
             ROW_NUMBER() OVER (PARTITION BY cluster_id
                                ORDER BY q DESC, doc_id ASC) AS rn
      FROM members
    ) WHERE rn = 1
    """,
)
def q_canonical_selection(spark, sf_dir):
    """X45: quality-argmax keep policy (dedup.cluster_canonical) —
    per near-dup cluster the member a keep-one policy retains:
    longest text, ties -> lowest id. Winner = min(struct(-q, id))
    INSIDE the per-cluster aggregate (no window over the joined
    table); oracle twin = ROW_NUMBER ORDER BY q DESC, doc_id ASC."""
    labels = dedup.connected_components(_ngram_pairs(spark, sf_dir))
    docs = _corpus(spark, sf_dir).withColumn("q", F.length("text"))
    return dedup.cluster_canonical(docs, labels, "q")


@q(
    "canonical_kept_corpus",
    f"""
    {_CLUSTERS_SQL},
    winners AS (
      SELECT doc_id FROM (
        SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY cluster_id
                       ORDER BY q DESC, doc_id ASC) AS rn
        FROM members
      ) WHERE rn = 1
    ),
    kept AS (
      SELECT co.doc_id, length(co.text) AS q FROM corpus co
      WHERE co.doc_id NOT IN (SELECT doc_id FROM clusters)
      UNION ALL
      SELECT m.doc_id, m.q FROM members m
      JOIN winners w ON w.doc_id = m.doc_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(q) AS BIGINT) AS total_chars,
           CAST(MIN(doc_id) AS BIGINT) AS min_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_id
    FROM kept
    """,
)
def q_canonical_kept_corpus(spark, sf_dir):
    """X45: the surviving corpus under the keep policy
    (dedup.keep_canonical) — unclustered singletons plus each
    cluster's winner, original schema preserved; rolled up to exact
    integer invariants (count, total chars, id range) that pin the
    kept SET."""
    labels = dedup.connected_components(_ngram_pairs(spark, sf_dir))
    docs = _corpus(spark, sf_dir).withColumn("q", F.length("text"))
    kept = dedup.keep_canonical(docs, labels, "q")
    return kept.agg(
        F.count("*").alias("n_kept"),
        F.sum("q").alias("total_chars"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


@q(
    "simhash_near_dups",
    f"""
    WITH sh AS (
      SELECT doc_id, {_SIMHASH_SQL} AS simhash
      FROM ({_CORPUS_SQL})
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
    """,
)
def q_simhash_near_dups(spark, sf_dir):
    """SimHash near-dup pairs: 60-bit majority signature (one-pass
    relational form), hamming <= 6, found via pigeonhole banding
    (7 bands, equi-join on (band, chunk)) — provably the same pair set
    as the brute-force join the oracle runs, with no cartesian product
    in the physical plan."""
    c = dedup.simhash_signatures(_corpus(spark, sf_dir), "text", "doc_id")
    return dedup.simhash_banded_pairs(
        c, "doc_id", "simhash", max_hamming=6, n_bits=60
    )


# ===========================================================================
# similarity search over embeddings
# ===========================================================================

_DOT_SQL = (
    "list_aggregate(list_transform(range(1, 65), "
    "i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)), 'sum')"
)
_NORM_E = "sqrt(list_aggregate(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), 'sum'))"
_NORM_Q = "sqrt(list_aggregate(list_transform(range(1, 65), i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)), 'sum'))"


def _cosine_topk_sql(include_query: bool) -> str:
    """Brute-force exact top-10 oracle; ``include_query=True`` keeps
    vec_id 0 itself in the ranking — the variant the recall rows
    compare against, because the ANN legs score their own query point
    (cosine 1.0, always in its home bucket): recall must compare
    SELF-INCLUSIVE lists on both sides or a perfect index caps at
    0.9."""
    where = "" if include_query else "WHERE e.vec_id <> 0"
    return f"""
    SELECT e.vec_id, ROUND({_DOT_SQL} / ({_NORM_E} * {_NORM_Q}), 4) AS cosine
    FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    {where}
    ORDER BY ROUND({_DOT_SQL} / ({_NORM_E} * {_NORM_Q}), 4) DESC, e.vec_id
    LIMIT 10
    """


def _cosine_topk_df(spark, sf_dir, include_query: bool = False):
    e = load(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    dot = F.aggregate(
        F.zip_with(
            F.col("embedding"), F.col("q_emb"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    def norm(c):
        return F.sqrt(
            F.aggregate(
                c, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
            )
        )
    base = e if include_query else e.filter(F.col("vec_id") != 0)
    return (
        base.crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.round(dot / (norm(F.col("embedding")) * norm(F.col("q_emb"))), 4).alias(
                "cosine"
            ),
        )
        .orderBy(F.desc("cosine"), F.col("vec_id"))
        .limit(10)
    )


@q("cosine_topk", _cosine_topk_sql(include_query=False))
def q_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 neighbours of vec_id 0 (exactness
    baseline; zip_with+aggregate dot product, TakeOrderedAndProject)."""
    return _cosine_topk_df(spark, sf_dir, include_query=False)


# planted ids offset by _DUP_OFF: +10000 collided with real vec_ids at
# the sf1 tier (20,000 vectors), and the oracle's per-id projection
# GROUP BY merged the colliding vectors while Spark bucketed per row —
# caught by the sf1 oracle leg, same class as the _CORPUS_SQL fix
_EMB_CORPUS_SQL = f"""
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
  FROM embeddings
  UNION ALL
  SELECT vec_id + {_DUP_OFF} AS vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE) * 2.0) AS embedding
  FROM embeddings WHERE vec_id % 5 = 0
"""


_EMB_LSH_BANDS = 4
# 8 bits/band = similarity.lsh_bits_for(n) at the sf corpus sizes
# (2,200-22,000 vectors -> clamp floor of 8). Anyone cloning this
# query as a template should derive the literal from lsh_bits_for at
# THEIR corpus size — a fixed bucket space is the hidden quadratic in
# banded LSH (see lsh_bits_for's docstring); it is a literal here only
# because the oracle SQL twin must carry the identical constant.
_EMB_LSH_BITS = 8

# DuckDB twin of similarity.emb_banded (md5-derived hyperplanes ->
# 9-decimal-rounded sign bits -> packed band buckets) over an ``emb``
# CTE of (vec_id, embedding DOUBLE[]): shared between the
# embedding_near_dup_pairs oracle below and tests/test_fuzz_emblsh.py,
# so the fuzz leg indicts the exact expression the driver gate runs.
_EMB_BUCKETS_CTES = f"""planes AS (
      SELECT CAST(p.p // {_EMB_LSH_BITS} AS INTEGER) AS band,
             CAST(p.p % {_EMB_LSH_BITS} AS INTEGER) AS bit,
             CAST(j.dim AS INTEGER) AS dim,
             CAST(CONCAT('0x', substr(md5(CONCAT(p.p, '|', j.dim)), 1, 15)) AS BIGINT)
               / 576460752303423488.0 - 1.0 AS w
      FROM range(0, {_EMB_LSH_BANDS * _EMB_LSH_BITS}) p(p), range(1, 65) j(dim)
    ),
    proj AS (
      SELECT e.vec_id, pl.band, pl.bit, SUM(e.embedding[pl.dim] * pl.w) AS s
      FROM emb e CROSS JOIN planes pl
      GROUP BY e.vec_id, pl.band, pl.bit
    ),
    buckets AS (
      SELECT vec_id, band,
        SUM(CASE WHEN ROUND(s, 9) >= 0 THEN CAST(1 AS BIGINT) << bit ELSE CAST(0 AS BIGINT) END) AS bucket
      FROM proj GROUP BY vec_id, band
    )"""


@q(
    "embedding_near_dup_pairs",
    f"""
    WITH emb AS ({_EMB_CORPUS_SQL}),
    {_EMB_BUCKETS_CTES},
    cands AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT c.id_a, c.id_b,
      ROUND(
        list_aggregate(list_transform(range(1, 65), i -> a.embedding[i] * b.embedding[i]), 'sum')
        / (sqrt(list_aggregate(list_transform(range(1, 65), i -> a.embedding[i] * a.embedding[i]), 'sum'))
         * sqrt(list_aggregate(list_transform(range(1, 65), i -> b.embedding[i] * b.embedding[i]), 'sum'))), 4) AS cosine
    FROM cands c
    JOIN emb a ON a.vec_id = c.id_a
    JOIN emb b ON b.vec_id = c.id_b
    WHERE list_aggregate(list_transform(range(1, 65), i -> a.embedding[i] * b.embedding[i]), 'sum')
        / (sqrt(list_aggregate(list_transform(range(1, 65), i -> a.embedding[i] * a.embedding[i]), 'sum'))
         * sqrt(list_aggregate(list_transform(range(1, 65), i -> b.embedding[i] * b.embedding[i]), 'sum'))) >= 0.99
    """,
)
def q_embedding_near_dup_pairs(spark, sf_dir):
    """Embedding-cosine near-dup pairs (cosine >= 0.99) over a corpus
    with planted scaled duplicates, via banded hyperplane LSH: candidate
    pairs from a (band, bucket) equi-join, exact cosine verify on the
    candidates only — no O(n^2) pair space. The md5-derived hyperplanes
    are engine-portable, so the oracle regenerates them in SQL."""
    e = load(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    planted = e.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + _DUP_OFF).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") * 2.0).alias("embedding"),
    )
    corpus = base.unionByName(planted)
    cands = similarity.banded_lsh_candidates(
        corpus,
        dim=64,
        n_bands=_EMB_LSH_BANDS,
        bits_per_band=_EMB_LSH_BITS,
    )
    pairs = dedup.embedding_near_dups(corpus, tau=0.99, candidates=cands)
    return pairs.withColumn("cosine", F.round("cosine", 4))


# ivf_cells is deliberately NOT in the driver registry: the driver's
# correctness pass caps at 50 queries and its cell-assignment logic is
# already exercised inside ivf_topk_probe (same assign stage) — the
# freed slot goes to ann_topk_lsh. tests/test_operators.py still
# cross-checks q_ivf_cells against this DuckDB oracle at sf0.001.
IVF_CELLS_ORACLE_SQL = """
    WITH cents AS (SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < 4),
    scored AS (
      SELECT e.vec_id, c.cid,
        ROUND(
          list_aggregate(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), 'sum')
          / (sqrt(list_aggregate(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), 'sum'))
           * sqrt(list_aggregate(list_transform(range(1, 65), i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), 'sum'))), 9) AS cos
      FROM embeddings e, cents c
    ),
    assigned AS (
      SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
      FROM scored
    )
    SELECT cid AS cell, COUNT(*) AS n_vectors FROM assigned WHERE rn = 1 GROUP BY cid
"""


def q_ivf_cells(spark, sf_dir):
    """IVF coarse quantization: assign every vector to its nearest of 4
    seed centroids (vec_id 0-3); cell occupancy counts."""
    e = load(spark, sf_dir, "embeddings")
    cents = e.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("c_emb")
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("embedding"), F.col("c_emb"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    def norm(c):
        return F.sqrt(
            F.aggregate(
                c, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
            )
        )
    scored = e.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cid",
        F.round(dot / (norm(F.col("embedding")) * norm(F.col("c_emb"))), 9).alias("cos"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.col("cid"))
    assigned = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return assigned.groupBy(F.col("cid").alias("cell")).agg(
        F.count("*").alias("n_vectors")
    )


def _cos_sql(a: str, b: str) -> str:
    return (
        f"(list_aggregate(list_transform(range(1, 65), i -> {a}[i] * {b}[i]), 'sum')"
        f" / (sqrt(list_aggregate(list_transform(range(1, 65), i -> {a}[i] * {a}[i]), 'sum'))"
        f" * sqrt(list_aggregate(list_transform(range(1, 65), i -> {b}[i] * {b}[i]), 'sum'))))"
    )


@q(
    "ivf_topk_probe",
    f"""
    WITH emb AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    cn AS (SELECT vec_id AS cid, e FROM emb WHERE vec_id < 4),
    qv AS (SELECT e FROM emb WHERE vec_id = 0),
    probe AS (
      SELECT cid FROM (
        SELECT c.cid,
               ROW_NUMBER() OVER (ORDER BY ROUND({_cos_sql('c.e', 'q.e')}, 9) DESC, c.cid) AS rn
        FROM cn c, qv q
      ) r WHERE rn <= 2
    ),
    assigned AS (
      SELECT vec_id, cid FROM (
        SELECT m.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY m.vec_id
                 ORDER BY ROUND({_cos_sql('m.e', 'c.e')}, 9) DESC, c.cid) AS rn
        FROM emb m, cn c
      ) a WHERE rn = 1
    )
    SELECT m.vec_id, ROUND({_cos_sql('m.e', 'q.e')}, 6) AS cosine
    FROM assigned a
    JOIN probe p ON a.cid = p.cid
    JOIN emb m ON m.vec_id = a.vec_id, qv q
    ORDER BY cosine DESC, m.vec_id
    LIMIT 10
    """,
)
def q_ivf_topk_probe(spark, sf_dir):
    """IVF probe search: assign every vector to its nearest of 4 seed
    centroids, score only the query's 2 nearest cells, exact cosine
    top-10 on the pruned set (similarity.ivf_topk)."""
    e = load(spark, sf_dir, "embeddings")
    small = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in e.filter(F.col("vec_id") < 4).collect()
    }
    centroids = [small[i] for i in sorted(small)]
    query = small[0]
    return similarity.ivf_topk(e, query, centroids, k=10, nprobe=2)


def _ann_planes_values(bits: int = 8) -> str:
    """The LCG hyperplanes (similarity._hyperplanes, seed 7, dim 64)
    as SQL VALUES rows — deliberately oracle-replicable."""
    planes = similarity._hyperplanes(64, bits, seed=7)
    return ", ".join(
        f"({p}, {j + 1}, {w!r})"
        for p, row in enumerate(planes)
        for j, w in enumerate(row)
    )


@q(
    "ann_topk_lsh",
    f"""
    WITH planes(p, dim, w) AS (VALUES {_ann_planes_values()}),
    emb AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    proj AS (
      SELECT m.vec_id, pl.p, SUM(m.e[pl.dim] * pl.w) AS s
      FROM emb m CROSS JOIN planes pl GROUP BY m.vec_id, pl.p
    ),
    buckets AS (
      SELECT vec_id,
        CAST(SUM(CASE WHEN ROUND(s, 9) >= 0 THEN (1 << p) ELSE 0 END) AS BIGINT) AS bucket
      FROM proj GROUP BY vec_id
    ),
    qb AS (SELECT bucket FROM buckets WHERE vec_id = 0),
    qv AS (SELECT e FROM emb WHERE vec_id = 0),
    cand AS (
      SELECT b.vec_id FROM buckets b, qb
      WHERE bit_count(xor(b.bucket, qb.bucket)) <= 1
    )
    SELECT m.vec_id,
      ROUND(
        list_aggregate(list_transform(range(1, 65), i -> m.e[i] * q.e[i]), 'sum')
        / (sqrt(list_aggregate(list_transform(range(1, 65), i -> m.e[i] * m.e[i]), 'sum'))
         * sqrt(list_aggregate(list_transform(range(1, 65), i -> q.e[i] * q.e[i]), 'sum'))), 6) AS cosine
    FROM cand c JOIN emb m ON m.vec_id = c.vec_id, qv q
    ORDER BY cosine DESC, m.vec_id
    LIMIT 10
    """,
)
def q_ann_topk_lsh(spark, sf_dir):
    """ANN top-10 by hyperplane LSH with multiprobe hamming<=1
    (similarity.ann_topk_lsh): only vectors whose 8-bit bucket is
    within one flip of the query's bucket are scored. The LCG planes
    are regenerated verbatim in the oracle SQL."""
    e = load(spark, sf_dir, "embeddings")
    qrow = e.filter(F.col("vec_id") == 0).select("embedding").head()
    query = [float(x) for x in qrow["embedding"]]
    return similarity.ann_topk_lsh(
        e, query, k=10, bits=8, seed=7, multiprobe_hamming=1
    )


# ===========================================================================
# corpus curation (X20), exact-substring dedup (X21), PQ ADC probe (X17)
# ===========================================================================

_STRAT_FRACS = {"a": 0.25, "b": 0.5, "c": 0.05}
_STRAT_CASE = (
    "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'a' WHEN 1 THEN 'b' ELSE 'c' END"
)


@q(
    "stratified_sample",
    f"""
    WITH s AS (SELECT doc_id, {_STRAT_CASE} AS stratum FROM documents)
    SELECT doc_id, stratum FROM s
    WHERE {curation.hash_stratified_sample_sql("stratum", _STRAT_FRACS, "CAST(doc_id AS VARCHAR)")}
    """,
)
def q_stratified_sample(spark, sf_dir):
    """Nested deterministic hash-stratified sampling
    (curation.hash_stratified_sample): keep a row iff the 60-bit
    portable hash of its key falls under fraction(stratum) * 2^60 —
    a pure map-side filter, reproduced verbatim by the exported
    WHERE-clause twin (curation.hash_stratified_sample_sql)."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.element_at(
            F.array(F.lit("a"), F.lit("b"), F.lit("c")),
            (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
        ).alias("stratum"),
    )
    return curation.hash_stratified_sample(d, "stratum", _STRAT_FRACS, "doc_id")


_MIX_H = portable_hash64_sql("CAST(doc_id AS VARCHAR)", salt="mix")


@q(
    "weighted_interleave_mix",
    f"""
    SELECT source, doc_id, ROUND(mix_key, 9) AS mix_key FROM (
      SELECT 'head' AS source, doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY {_MIX_H}) AS DOUBLE) / 2.5 AS mix_key
      FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT 'tail' AS source, doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY {_MIX_H}) AS DOUBLE) / 1.0 AS mix_key
      FROM documents WHERE doc_id % 2 = 1
    ) t
    """,
)
def q_weighted_interleave_mix(spark, sf_dir):
    """Stride-scheduled weighted corpus mixing
    (curation.weighted_interleave): source s with weight w emits its
    i-th hash-ranked row at mix_key = i/w, so any prefix in mix_key
    order carries floor(t*w) rows per source. buckets=0 forces the
    single-window rank at this tier; the >2M-row bucketed path
    (global_sequence) is parity-gated in tests/test_curation.py."""
    d = load(spark, sf_dir, "documents").select("doc_id")
    out = curation.weighted_interleave(
        {
            "head": (d.filter(F.col("doc_id") % 2 == 0), 2.5),
            "tail": (d.filter(F.col("doc_id") % 2 == 1), 1.0),
        },
        "doc_id",
        buckets=0,
    )
    return out.select(
        "source", "doc_id", F.round("mix_key", 9).alias("mix_key")
    )


_K_SUBSTR = 8
_GRAM_H = portable_hash64_sql(f"array_to_string(w[i : i + {_K_SUBSTR - 1}], ' ')")


@q(
    "substr_dup_ratio",
    f"""
    WITH corpus AS ({_CORPUS_SQL}),
    words AS (
      SELECT doc_id, trim(text) AS tt,
             regexp_split_to_array(trim(text), '\\s+') AS w
      FROM corpus
    ),
    spans AS (
      SELECT doc_id, u.gh AS gram_hash
      FROM words,
      UNNEST(CASE WHEN tt != '' AND len(w) >= {_K_SUBSTR}
                  THEN list_transform(range(1, len(w) - {_K_SUBSTR} + 2),
                                      i -> struct_pack(i := i, gh := {_GRAM_H}))
                  ELSE [] END) AS s(u)
    ),
    dup AS (
      SELECT gram_hash FROM spans
      GROUP BY gram_hash HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    per_doc AS (SELECT doc_id, COUNT(*) AS n_grams FROM spans GROUP BY doc_id),
    dup_per_doc AS (
      SELECT s.doc_id, COUNT(*) AS n_dup_grams
      FROM spans s JOIN dup d USING (gram_hash) GROUP BY s.doc_id
    )
    SELECT c.doc_id,
      CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
      CAST(COALESCE(dp.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
      CASE WHEN COALESCE(p.n_grams, 0) = 0 THEN 0.0
           ELSE ROUND(CAST(COALESCE(dp.n_dup_grams, 0) AS DOUBLE) / p.n_grams, 6)
      END AS dup_ratio
    FROM corpus c
    LEFT JOIN per_doc p USING (doc_id)
    LEFT JOIN dup_per_doc dp USING (doc_id)
    """,
)
def q_substr_dup_ratio(spark, sf_dir):
    """Exact-substring duplication rollup (substrings.substr_dup_ratio,
    the Lee-et-al. span-level dedup re-expressed as k-gram inversion):
    per document, the fraction of its k-token windows whose 60-bit
    window hash occurs in >= 2 distinct documents. Runs over the
    planted-dup corpus so the exact copies light up at ratio 1.0."""
    r = substrings.substr_dup_ratio(_corpus(spark, sf_dir), k=_K_SUBSTR)
    return r.select(
        "doc_id",
        "n_grams",
        "n_dup_grams",
        F.round("dup_ratio", 6).alias("dup_ratio"),
    )


_ES_HDR = (
    "begin common license header alpha beta gamma delta "
    "epsilon zeta eta theta"
)  # 12 tokens, prepended to doc_id % 4 == 0
_ES_FTR = (
    "end shared footer omega psi chi phi upsilon tau sigma rho pi"
)  # 12 tokens, appended to doc_id % 6 == 0


@q(
    "exact_substring_removal",
    f"""
    WITH es_injected AS (
      SELECT doc_id,
             CASE WHEN doc_id % 6 = 0 THEN base || ' {_ES_FTR}'
                  ELSE base END AS text
      FROM (
        SELECT doc_id,
               CASE WHEN doc_id % 4 = 0 THEN '{_ES_HDR} ' || text
                    ELSE text END AS base
        FROM documents
      ) es_b
    ),
    {{ES_CTES}}
    SELECT doc_id, n_tokens, n_tokens_removed, n_spans_removed,
           md5(text) AS text_md5
    FROM es_docs_out
    """.replace(
        "{ES_CTES}",
        substrings.remove_dup_substrings_sql_ctes(
            "SELECT doc_id, text FROM es_injected", k=_K_SUBSTR, keep="first"
        ),
    ),
)
def q_exact_substring_removal(spark, sf_dir):
    """X56: exact-substring span REMOVAL (substrings.
    remove_dup_substrings — the Lee-et-al. ExactSubstr CUT, where
    substr_dup_ratio only measures): a 12-token license header is
    planted on every doc_id%4 doc and a 12-token footer on every
    doc_id%6 doc, identically on both engines; the operator excises
    every occurrence past the canonical first one and reassembles the
    survivors in order. The md5-of-text column pins the surgery
    byte-exactly — a one-token slip in interval arithmetic on either
    engine breaks the hash."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    base = F.when(
        F.col("doc_id") % 4 == 0, F.concat(F.lit(_ES_HDR + " "), F.col("text"))
    ).otherwise(F.col("text"))
    inj = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 6 == 0, F.concat(base, F.lit(" " + _ES_FTR))
        ).otherwise(base).alias("text"),
    )
    out = substrings.remove_dup_substrings(inj, k=_K_SUBSTR, keep="first")
    return out.select(
        "doc_id",
        "n_tokens",
        "n_tokens_removed",
        "n_spans_removed",
        F.md5("text").alias("text_md5"),
    )


_PQ_M, _PQ_KSUB, _PQ_DSUB = 8, 16, 8  # 64-dim embeddings, 8 bytes/vector


def _pq_books() -> list[list[list[float]]]:
    """Seeded LCG codebooks (scaled similarity._hyperplanes rows) —
    literal on BOTH sides because codebooks are training artifacts,
    not query logic: pq_train's determinism and its Lloyd rounds are
    pytest-gated (tests/test_pq.py); this driver gate pins the
    ENCODE + asymmetric-distance pipeline cross-engine."""
    return [
        [
            [0.25 * x for x in c]
            for c in similarity._hyperplanes(_PQ_DSUB, _PQ_KSUB, seed=31 + j)
        ]
        for j in range(_PQ_M)
    ]


def _pq_cb_values() -> str:
    return ", ".join(
        f"({j}, {code}, [{', '.join(repr(float(x)) for x in cvec)}])"
        for j, book in enumerate(_pq_books())
        for code, cvec in enumerate(book)
    )


def _pq_d2_sql() -> str:
    """Squared L2 between a normalized corpus subvector and a center,
    summed in strict i-order (left fold) — the pq_encode contract."""
    d = _PQ_DSUB
    return (
        f"list_aggregate(list_transform(range(1, {d + 1}), i -> "
        f"(n.e[cb.j * {d} + i] - cb.c[i]) * (n.e[cb.j * {d} + i] - cb.c[i])), 'sum')"
    )


@q(
    "pq_adc_topk",
    f"""
    WITH emb AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, list_transform(e, x -> x /
        CASE WHEN sqrt(list_aggregate(list_transform(e, y -> y*y), 'sum')) = 0
             THEN 1.0
             ELSE sqrt(list_aggregate(list_transform(e, y -> y*y), 'sum')) END
      ) AS e FROM emb
    ),
    qn AS (SELECT e FROM n WHERE vec_id = 0),
    cb0(j, code, c0) AS (VALUES {_pq_cb_values()}),
    cb AS (
      SELECT j, code, list_transform(c0, x -> CAST(x AS DOUBLE)) AS c FROM cb0
    ),
    scored AS (
      SELECT n.vec_id, cb.j, cb.code,
             ROW_NUMBER() OVER (PARTITION BY n.vec_id, cb.j
               ORDER BY ROUND({_pq_d2_sql()}, 9), cb.code) AS rn
      FROM n CROSS JOIN cb
    ),
    codes AS (
      SELECT vec_id, list(code ORDER BY j) AS code
      FROM scored WHERE rn = 1 GROUP BY vec_id
    ),
    adc AS (
      SELECT list(d ORDER BY j, code) AS flat FROM (
        SELECT cb.j, cb.code,
          list_aggregate(list_transform(range(1, {_PQ_DSUB + 1}), i ->
            (q.e[cb.j * {_PQ_DSUB} + i] - cb.c[i]) * (q.e[cb.j * {_PQ_DSUB} + i] - cb.c[i])),
            'sum') AS d
        FROM cb, qn q
      )
    ),
    dist AS (
      SELECT c.vec_id,
        list_aggregate(list_transform(range(0, {_PQ_M}),
          j -> a.flat[j * {_PQ_KSUB} + c.code[j + 1] + 1]), 'sum') AS d
      FROM codes c, adc a
    )
    SELECT vec_id, ROUND(d, 6) AS pq_dist
    FROM dist ORDER BY d ASC, vec_id ASC LIMIT 10
    """,
)
def q_pq_adc_topk(spark, sf_dir):
    """Product-quantization top-10 (similarity.pq_encode + pq_topk):
    every vector compressed to m=8 one-byte codes, ranked by the
    asymmetric-distance lookup-sum against the query's precomputed
    m x ksub table. The oracle re-derives the ENTIRE pipeline —
    normalize -> HALF_UP/ties-to-lowest encode -> j-order ADC fold —
    from the same literal codebooks (tests/test_pq.py pins the
    contract; this pins it on the driver corpus)."""
    e = load(spark, sf_dir, "embeddings")
    qv = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).select("embedding").head()[
            "embedding"
        ]
    ]
    books = _pq_books()
    out = similarity.pq_topk(similarity.pq_encode(e, books), books, qv, k=10)
    return out.select("vec_id", F.round("pq_dist", 6).alias("pq_dist"))


_IVF_TRAIN_CELLS, _IVF_TRAIN_ITERS, _IVF_DIM = 4, 2, 64


def _ivf_init() -> list[list[float]]:
    """Literal warm-start centroids (seeded LCG rows) shared verbatim
    with the oracle's c0 VALUES — the reproducible-from-literals path
    ivf_train_centroids(init=...) exists for."""
    return similarity._hyperplanes(_IVF_DIM, _IVF_TRAIN_CELLS, seed=53)


def _lloyd_sql() -> str:
    """Two Lloyd rounds unrolled in DuckDB from the same init:
    assign = argmax of ROUND(cosine, 9) with ties to the lowest cell
    (the ivf_assign contract), update = per-dim AVG with empty cells
    keeping their previous centroid (tests/test_operators.py pins the
    same unroll against a sampled init at sf0.001)."""
    d = _IVF_DIM
    init_values = ", ".join(
        f"({cid}, [{', '.join(repr(float(x)) for x in c)}])"
        for cid, c in enumerate(_ivf_init())
    )
    cos = (
        f"(list_aggregate(list_transform(range(1, {d + 1}), i -> m.e[i] * c.c[i]), 'sum')"
        f" / (sqrt(list_aggregate(list_transform(range(1, {d + 1}), i -> m.e[i] * m.e[i]), 'sum'))"
        f" * sqrt(list_aggregate(list_transform(range(1, {d + 1}), i -> c.c[i] * c.c[i]), 'sum'))))"
    )
    avg_list = "[" + ", ".join(f"avg(e[{i}])" for i in range(1, d + 1)) + "]"

    def assign(cents: str) -> str:
        return f"""
          SELECT vec_id, e, cid FROM (
            SELECT m.vec_id, m.e, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY m.vec_id
                     ORDER BY ROUND({cos}, 9) DESC, c.cid) AS rn
            FROM emb m CROSS JOIN {cents} c
          ) t WHERE rn = 1
        """

    def update(prev: str, assigned: str) -> str:
        return f"""
          SELECT p.cid, COALESCE(u.c, p.c) AS c
          FROM {prev} p LEFT JOIN (
            SELECT cid, {avg_list} AS c FROM {assigned} GROUP BY cid
          ) u USING (cid)
        """

    return f"""
      WITH emb AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
      ),
      c0(cid, c) AS (VALUES {init_values}),
      a1 AS ({assign('c0')}),
      c1 AS ({update('c0', 'a1')}),
      a2 AS ({assign('c1')}),
      c2 AS ({update('c1', 'a2')})
      SELECT CAST(cid AS INT) AS cell, CAST(d.i AS INT) AS dim,
             ROUND(c[d.i], 6) AS coord
      FROM c2, range(1, {d + 1}) d(i)
    """


@q("ivf_train_lloyd", _lloyd_sql())
def q_ivf_train_lloyd(spark, sf_dir):
    """Distributed spherical k-means training
    (similarity.ivf_train_centroids, X10's training half): two Lloyd
    rounds from literal warm-start centroids, emitted as one
    (cell, dim, coord) row per coordinate. The oracle unrolls the
    SAME two rounds in SQL, so every assign (broadcast-literal
    cosine argmax) and every update (per-dim partial+final AVG) is
    pinned cross-engine — the per-round collect is C rows of
    centroid statistics, the operator's documented driver-side
    footprint, not a data collect."""
    e = load(spark, sf_dir, "embeddings")
    cents = similarity.ivf_train_centroids(
        e,
        _IVF_TRAIN_CELLS,
        n_iters=_IVF_TRAIN_ITERS,
        tol=0.0,
        dim=_IVF_DIM,
        init=_ivf_init(),
    )
    rows = [
        (cid, d, float(x))
        for cid, c in enumerate(cents)
        for d, x in enumerate(c, start=1)
    ]
    raw = spark.createDataFrame(rows, "cell int, dim int, coord double")
    return raw.select("cell", "dim", F.round("coord", 6).alias("coord"))


@q("pack_sequences", packing.pack_sequences_sql(256))
def q_pack_sequences(spark, sf_dir):
    """Deterministic concat-then-chunk sequence packing
    (packing.pack_sequences): documents concatenated in hash order
    into one virtual token stream, cut every 256 tokens — one row per
    (document x sequence) fragment with both offsets, so a consumer
    reconstructs padding-free training rows. buckets=0 at this tier;
    the >2M-row bucketed prefix sum is parity-gated in
    tests/test_packing.py."""
    d = load(spark, sf_dir, "documents")
    return packing.pack_sequences(d, 256, buckets=0)


# X42: token-balanced output shards over the same virtual stream
@q(
    "shard_assignment",
    f"""
    SELECT shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           md5(string_agg(CAST(doc_id AS VARCHAR), ','
                          ORDER BY CAST(doc_id AS VARCHAR))) AS docs_md5
    FROM ({packing.assign_shards_sql(16)})
    GROUP BY shard_id
    """,
)
def q_shard_assignment(spark, sf_dir):
    """X42: token-balanced training shards (packing.assign_shards) —
    shard_id = lo*N div T over the hash-ordered token stream; per
    shard the doc count, exact token sum, and an md5 over the sorted
    member-id list, so the oracle pins the exact assignment, not just
    the balance. buckets=0 at this tier; the bucketed path is
    parity-gated in tests/test_shards.py."""
    d = load(spark, sf_dir, "documents")
    sh = packing.assign_shards(d, 16, buckets=0)
    return sh.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.md5(
            F.array_join(
                F.array_sort(F.collect_list(F.col("doc_id").cast("string"))),
                ",",
            )
        ).alias("docs_md5"),
    )


def _gram_branch_sql(n: int) -> str:
    h = portable_hash64_sql(f"array_to_string(w[i : i + {n - 1}], ' ')")
    return f"""
      CASE WHEN tt != '' AND len(w) >= {n}
           THEN list_transform(range(1, len(w) - {n} + 2),
                i -> struct_pack(n := {n}, gh := {h},
                     gl := CAST(length(array_to_string(w[i : i + {n - 1}], ' ')) AS BIGINT)))
           ELSE [] END
    """


_REP_STATS_CTES = f"""
    words AS (
      SELECT doc_id, length(text) AS nch, trim(text) AS tt,
             regexp_split_to_array(trim(text), '\\s+') AS w
      FROM documents
    ),
    base AS (
      SELECT doc_id,
        CAST(CASE WHEN tt = '' THEN 0 ELSE len(w) END AS INT) AS n_words,
        CAST(nch AS INT) AS n_chars,
        CASE WHEN tt = '' THEN 0.0
             ELSE ROUND(1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6)
        END AS dup_word_frac
      FROM words
    ),
    grams AS (
      SELECT doc_id, g.n AS n, g.gh AS gh, g.gl AS gl
      FROM words, UNNEST({_gram_branch_sql(2)} || {_gram_branch_sql(3)}) AS t(g)
    ),
    counted AS (
      SELECT doc_id, n, gh, gl, COUNT(*) AS cnt
      FROM grams GROUP BY doc_id, n, gh, gl
    ),
    tops AS (
      SELECT doc_id, n, cnt, gl FROM (
        SELECT doc_id, n, cnt, gl,
          ROW_NUMBER() OVER (PARTITION BY doc_id, n
            ORDER BY cnt DESC, gl DESC, gh DESC) AS rn
        FROM counted
      ) WHERE rn = 1
    ),
    rep_stats AS (
      SELECT b.doc_id, b.n_words, b.n_chars, b.dup_word_frac,
        COALESCE(ROUND(CAST(t2.cnt * t2.gl AS DOUBLE) / b.n_chars, 6), 0.0) AS top2gram_frac,
        COALESCE(ROUND(CAST(t3.cnt * t3.gl AS DOUBLE) / b.n_chars, 6), 0.0) AS top3gram_frac
      FROM base b
      LEFT JOIN tops t2 ON t2.doc_id = b.doc_id AND t2.n = 2
      LEFT JOIN tops t3 ON t3.doc_id = b.doc_id AND t3.n = 3
    )
"""


@q("repetition_stats", f"WITH {_REP_STATS_CTES} SELECT * FROM rep_stats")
def q_repetition_stats(spark, sf_dir):
    """Gopher-family repetition profile (repetition.repetition_stats):
    per doc, the duplicate-word fraction (pure HOF, map-side) and the
    top-2/3-gram character fractions — grams hashed BEFORE the one
    shared explode+aggregate (16-byte shuffle payload, never gram
    text), per-doc winner picked by max(struct(cnt, len, hash))
    inside the same aggregate. The oracle re-derives the identical
    winner via a ROW_NUMBER with the same tie-break."""
    d = load(spark, sf_dir, "documents")
    return repetition.repetition_stats(d, ngrams=(2, 3))


@q(
    "gopher_admission",
    f"""
    WITH {_REP_STATS_CTES}
    SELECT COALESCE(
      CASE WHEN n_words < 50 THEN 'too_few_words'
           WHEN n_words > 100000 THEN 'too_many_words'
           WHEN dup_word_frac > 0.55 THEN 'dup_words'
           WHEN top2gram_frac > 0.20 THEN 'top2gram'
           WHEN top3gram_frac > 0.18 THEN 'top3gram'
      END, 'keep') AS reason,
      CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM rep_stats GROUP BY 1
    """,
)
def q_gopher_admission(spark, sf_dir):
    """Admission breakdown under the repetition cascade
    (repetition.gopher_repetition_filter, first-match-wins reject
    reasons): how many documents each rule removes. dup_words is
    raised to 0.55 for this small-vocabulary corpus (the Gopher 0.3
    default would shadow every later rule here); thresholds compare
    the ROUND(,6) fractions on both engines, so classification can
    never diverge on representation."""
    d = load(spark, sf_dir, "documents")
    out = repetition.gopher_repetition_filter(
        d, max_dup_word_frac=0.55, max_topgram_frac={2: 0.20, 3: 0.18}
    )
    return (
        out.groupBy(F.coalesce("reason", F.lit("keep")).alias("reason"))
        .agg(F.count("*").alias("n_docs"))
    )


@q(
    "lm_perplexity",
    f"WITH {lm.lm_ctes_sql()} SELECT * FROM scored",
)
def q_lm_perplexity(spark, sf_dir):
    """X31: CCNet-style LM scoring (lm.lm_perplexity) — train an
    add-k bigram LM on the corpus (one explode + one hash aggregate;
    context counts RE-aggregate the model table, never the corpus),
    then score every document's avg negative log-likelihood and
    perplexity through broadcast model joins. The oracle re-derives
    the identical smoothed probabilities (same IEEE double ordering)
    in DuckDB."""
    d = load(spark, sf_dir, "documents")
    return lm.lm_perplexity(d, carry_cols=("lang",))


@q(
    "ccnet_quality_buckets",
    f"""
    WITH {lm.lm_ctes_sql()},
    ranked AS (
      SELECT lang, doc_id, nll,
             NTILE(3) OVER (PARTITION BY lang ORDER BY nll, doc_id) AS nt
      FROM scored
    )
    SELECT lang,
           CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                   ELSE 'tail' END AS bucket,
           COUNT(*) AS n_docs,
           ROUND(AVG(nll), 6) AS avg_nll,
           ROUND(MIN(nll), 6) AS min_nll,
           ROUND(MAX(nll), 6) AS max_nll
    FROM ranked GROUP BY lang, nt
    """,
)
def q_ccnet_quality_buckets(spark, sf_dir):
    """X31: the CCNet head/middle/tail split (lm.ccnet_bucket_stats):
    per language, ntile the corpus by rounded nll (deterministic
    (nll, doc_id) order on both engines) and report bucket sizes and
    nll ranges — the table a curation designer reads to set the
    perplexity cut. Exact ntile form at this tier; the corpus-scale
    path classifies against sampled thresholds map-side (module
    docstring)."""
    d = load(spark, sf_dir, "documents")
    scored = lm.lm_perplexity(d, carry_cols=("lang",))
    return lm.ccnet_bucket_stats(scored, by="lang")


_LINK_EDGES_SQL = """
    SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                    's' || CAST(l_suppkey AS VARCHAR) AS dst
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
"""


@q(
    "link_authority_rank",
    f"""
    WITH {graph.pagerank_sql_ctes(_LINK_EDGES_SQL, n_iters=2)}
    SELECT node, rank_norm FROM pr
    """,
)
def q_link_authority_rank(spark, sf_dir):
    """X32: link-graph authority (graph.pagerank) — 2 fixed PageRank
    iterations over the customer->supplier order graph (the testdata
    analog of page->outlink: namespaced node ids because the two key
    spaces overlap numerically). Suppliers are all dangling here, so
    the query exercises the dangling-mass redistribution path; the
    oracle unrolls both iterations with the identical IEEE double
    ordering and compares normalized ranks at 6 decimals."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    edges = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    )
    return graph.pagerank(edges, n_iters=2).select("node", "rank_norm")


# X34: recrawl scheduling — events replay as the fetch log (user_id =
# page id, value = the content fingerprint observed at that fetch)
_REVISIT_HORIZON = 1735689600.0  # 2025-01-01 00:00:00 UTC, fixed
_REVISIT_LOG_SQL = """
    SELECT user_id AS url, event_id AS seq, ts, value AS fingerprint
    FROM events
"""
_REVISIT_CTES = revisit.change_stats_sql_ctes(
    _REVISIT_LOG_SQL, _REVISIT_HORIZON
)


def _revisit_stats(spark, sf_dir):
    ev = load(spark, sf_dir, "events").select(
        F.col("user_id").alias("url"),
        F.col("event_id").alias("seq"),
        "ts",
        F.col("value").alias("fingerprint"),
    )
    return revisit.change_stats(ev, id_col="url", seq_col="seq")


@q(
    "recrawl_priority",
    f"""
    WITH {_REVISIT_CTES}
    SELECT url, n_fetches, n_changes,
           ROUND(change_rate, 6) AS change_rate,
           ROUND(priority, 6) AS priority
    FROM revisit
    """,
)
def q_recrawl_priority(spark, sf_dir):
    """X34: change-rate estimation + staleness priority
    (revisit.change_stats / revisit_priority) — per page, how often
    consecutive fetches saw a different fingerprint (one per-page lag
    window + one aggregate) and the Cho/Garcia-Molina-style revisit
    score age_hours x change_rate (0.5 prior when unknown). Fixed
    horizon so the oracle replays the identical staleness."""
    stats = _revisit_stats(spark, sf_dir)
    return revisit.revisit_priority(stats, _REVISIT_HORIZON).select(
        "url",
        "n_fetches",
        "n_changes",
        F.round("change_rate", 6).alias("change_rate"),
        F.round("priority", 6).alias("priority"),
    )


@q(
    "crawl_budget_allocation",
    revisit.allocate_budget_sql(
        f"WITH {_REVISIT_CTES} SELECT url, n_fetches AS weight FROM rv_stats",
        budget=997,
        weight_col="weight",
    ),
)
def q_crawl_budget_allocation(spark, sf_dir):
    """X34: largest-remainder apportionment (revisit.allocate_budget)
    — split a 997-fetch budget across pages proportional to fetch
    demand, floor shares + remainder seats by descending fractional
    part (id tie-break), summing to EXACTLY the budget. The twin
    recomputes every share with the same IEEE double ordering."""
    stats = _revisit_stats(spark, sf_dir)
    return revisit.allocate_budget(
        stats.select("url", F.col("n_fetches").alias("weight")),
        997,
        weight_col="weight",
    )


# X35: crawl-trap detection — orders replays as the fetch log. Host
# h7 is a calendar trap (one template, unbounded ids), h13 a depth
# trap, h21 a mirror farm (many URLs, one fingerprint); every other
# host is a bounded listing.
_TRAP_LOG_SQL = """
    SELECT
      CONCAT('https://h', CAST(o_custkey % 40 AS VARCHAR),
        '.mirror-main.test',
        CASE o_custkey % 40
          WHEN 7 THEN '/cal/' || CAST(o_orderkey % 997 AS VARCHAR)
                   || '/' || CAST(o_orderkey % 89 AS VARCHAR)
          WHEN 13 THEN '/d/1/2/3/4/5/6/7/8/9/'
                   || CAST(o_orderkey % 5 AS VARCHAR)
          WHEN 21 THEN '/p/' || CAST(o_orderkey % 150 AS VARCHAR)
          ELSE '/cat/' || CAST(o_orderkey % 200 AS VARCHAR)
        END) AS url,
      CASE WHEN o_custkey % 40 = 21 THEN 'dup'
           ELSE md5(CAST(o_orderkey AS VARCHAR)) END AS fingerprint
    FROM orders
"""


def _trap_log(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    hid = F.col("o_custkey") % 40
    k = F.col("o_orderkey")
    path = (
        F.when(
            hid == 7,
            F.concat(
                F.lit("/cal/"),
                (k % 997).cast("string"),
                F.lit("/"),
                (k % 89).cast("string"),
            ),
        )
        .when(
            hid == 13,
            F.concat(
                F.lit("/d/1/2/3/4/5/6/7/8/9/"), (k % 5).cast("string")
            ),
        )
        .when(hid == 21, F.concat(F.lit("/p/"), (k % 150).cast("string")))
        .otherwise(F.concat(F.lit("/cat/"), (k % 200).cast("string")))
    )
    return o.select(
        F.concat(
            F.lit("https://h"),
            hid.cast("string"),
            F.lit(".mirror-main.test"),
            path,
        ).alias("url"),
        F.when(hid == 21, F.lit("dup"))
        .otherwise(F.md5(k.cast("string")))
        .alias("fingerprint"),
    )


@q(
    "crawl_trap_hosts",
    f"""
    WITH {traps.trap_sql_ctes(_TRAP_LOG_SQL)}
    SELECT host, n_fetches, n_urls, n_templates,
           ROUND(urls_per_template, 6) AS urls_per_template,
           max_depth,
           ROUND(dup_content_ratio, 6) AS dup_content_ratio,
           trap_reason, is_trap
    FROM traps
    """,
)
def q_crawl_trap_hosts(spark, sf_dir):
    """X35: crawl-trap detection (traps.host_trap_stats/flag_traps) —
    per host URL-template explosion (digit-collapsed paths), depth,
    and duplicate-content ratio, with the first-matching trap reason.
    One regex projection + one skew-safe multi-distinct aggregate;
    thresholds are the module defaults, replayed by the twin."""
    stats = traps.host_trap_stats(
        _trap_log(spark, sf_dir), fingerprint_col="fingerprint"
    )
    return traps.flag_traps(stats).select(
        "host",
        "n_fetches",
        "n_urls",
        "n_templates",
        F.round("urls_per_template", 6).alias("urls_per_template"),
        "max_depth",
        F.round("dup_content_ratio", 6).alias("dup_content_ratio"),
        "trap_reason",
        "is_trap",
    )


# X36: per-domain admission quality with a Wilson lower bound — the
# admission cascade re-stated carrying `source`, then rolled up
_DOMAIN_KEEP_SQL = f"""
  SELECT source,
    CASE WHEN n IS NULL OR n < 50 THEN 0
         WHEN n > 5000 THEN 0
         WHEN mean_wl < 2 OR mean_wl > 12 THEN 0
         WHEN punct >= 0.1 THEN 0
         WHEN stopr < 0.05 OR stopr > 0.6 THEN 0
         ELSE 1 END AS keep
  FROM (
    SELECT source, length(text) AS n,
      CASE WHEN {{tok}} > 0
           THEN length(text) * 1.0 / ({{tok}}) ELSE 0.0 END AS mean_wl,
      CASE WHEN length(text) = 0 THEN 0.0
           ELSE (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) * 1.0 / length(text) END AS punct,
      CASE WHEN length(regexp_split_to_array(lower(trim(text)), '\\s+')) = 0 THEN 0.0
           ELSE length(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                  w -> list_contains({{stop}}, w))) * 1.0
                / length(regexp_split_to_array(lower(trim(text)), '\\s+')) END AS stopr
    FROM documents
  ) m
"""


def _domain_keep_sql():
    return _DOMAIN_KEEP_SQL.format(tok=_TOKENS_SQL, stop=_STOPWORDS_SQL)


def _domain_rollup_oracle():
    lb = analysis.wilson_lb_sql("n_kept", "n_docs")
    return f"""
    WITH dq AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(keep) AS BIGINT) AS n_kept
      FROM ({_domain_keep_sql()}) GROUP BY source
    )
    SELECT source, n_docs, n_kept,
      ROUND(CAST(n_kept AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
        AS admit_rate,
      ROUND({lb}, 6) AS wilson_lb,
      {lb} >= 0.5 AS keep_domain
    FROM dq
    """


@q("domain_quality_rollup", None)
def q_domain_quality_rollup(spark, sf_dir):
    """X36: RefinedWeb/C4-style DOMAIN filtering
    (analysis.domain_quality_rollup) — per-source admission rate from
    the training cascade plus the Wilson score LOWER bound, gating on
    the bound so small domains can't pass on a lucky sample (the same
    point rate keeps at n=250 and rejects at n=25). The twin mirrors
    the exact expression tree so IEEE doubles agree at the gate."""
    d = load(spark, sf_dir, "documents").select("source", "text")
    out = analysis.domain_quality_rollup(d, min_lb=0.5)
    return out.select(
        "source",
        "n_docs",
        "n_kept",
        F.round("admit_rate", 6).alias("admit_rate"),
        F.round("wilson_lb", 6).alias("wilson_lb"),
        "keep_domain",
    )


_ORACLES["domain_quality_rollup"] = _domain_rollup_oracle()


# X37: anchor-text aggregation — lineitem×part replays as the link
# graph (order page links to part page; anchor = part name + the
# per-link return flag, so anchors vary across a target's inlinks)
_ANCHOR_EDGES_SQL = """
    SELECT l_orderkey AS src, l_partkey AS dst,
           p_name || ' ' || l_returnflag || ' stock' AS anchor
    FROM lineitem JOIN part ON l_partkey = p_partkey
"""


@q(
    "anchor_text_summary",
    f"""
    WITH {anchors.anchor_sql_ctes(_ANCHOR_EDGES_SQL)}
    SELECT dst, n_inlinks, n_sources, top_term, top_count FROM anchors
    """,
)
def q_anchor_text_summary(spark, sf_dir):
    """X37: anchor-text aggregation (anchors.anchor_stats) — per link
    target the inlink count, distinct-source breadth, and majority
    anchor term (count desc, term asc — the tie-break lives inside a
    min(struct) aggregate, no window over the exploded table). The
    part dimension is explicitly broadcast into the edge build.
    Fanned on the aggregation key (r6): the broadcast-probe + concat
    map side otherwise runs on the single-row-group scan task, and the
    repartition doubles as the groupBy(dst) shuffle."""
    li = fan_out(
        load(spark, sf_dir, "lineitem"),
        "l_partkey",
        splits=scan_splits(spark, f"{sf_dir}/lineitem.parquet"),
    )
    p = load(spark, sf_dir, "part")
    edges = li.join(
        F.broadcast(p), li["l_partkey"] == p["p_partkey"]
    ).select(
        F.col("l_orderkey").alias("src"),
        F.col("l_partkey").alias("dst"),
        F.concat(
            F.col("p_name"),
            F.lit(" "),
            F.col("l_returnflag"),
            F.lit(" stock"),
        ).alias("anchor"),
    )
    return anchors.anchor_stats(edges)


# X38: BM25 relevance probe — literal query terms from the synthetic
# vocabulary, scored fully map-side (see text/ranking.py)
_BM25_TERMS = ["spark", "table", "query", "window"]


@q(
    "bm25_relevance",
    f"""
    SELECT doc_id, dl, n_matched, ROUND(bm25, 6) AS bm25
    FROM ({ranking.bm25_sql("SELECT doc_id, text FROM documents", _BM25_TERMS)})
    """,
)
def q_bm25_relevance(spark, sf_dir):
    """X38: BM25 scoring (ranking.bm25_scores) — Robertson/Lucene BM25
    of every document against a literal query-term set. Zero shuffles
    beyond the 1-row integer-exact stats aggregate; the score is a
    fixed-order fold so IEEE doubles agree with the twin bit-for-bit
    before the display rounding."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return ranking.bm25_scores(d, _BM25_TERMS).select(
        "doc_id",
        "dl",
        "n_matched",
        F.round("bm25", 6).alias("bm25"),
    )


# X39: temperature mixture — per-source token counts (integer-exact)
# through the alpha-reweighting rule with a 1M-token budget
_MIX_STATS_SQL = f"""
    SELECT source, CAST(SUM({{tok}}) AS BIGINT) AS n_tokens
    FROM documents GROUP BY source
"""


@q("temperature_mixture_plan", None)
def q_temperature_mixture_plan(spark, sf_dir):
    """X39: temperature-based source reweighting
    (curation.temperature_mixture) — w_i ∝ (token share)^0.7 with the
    epochs a 1M-token budget implies per source. The normalizer is a
    fold over the source-sorted array, so the doubles match the twin
    bit-for-bit before the display rounding."""
    d = load(spark, sf_dir, "documents")
    stats = d.groupBy("source").agg(
        F.sum(analysis.token_count(F.col("text")))
        .cast("long")
        .alias("n_tokens")
    )
    out = curation.temperature_mixture(
        stats, alpha=0.7, target_tokens=1_000_000
    )
    return out.select(
        "source",
        "n_tokens",
        F.round("token_share", 6).alias("token_share"),
        F.round("weight", 6).alias("weight"),
        F.round("epochs", 6).alias("epochs"),
    )


_ORACLES["temperature_mixture_plan"] = f"""
    SELECT source, n_tokens,
           ROUND(token_share, 6) AS token_share,
           ROUND(weight, 6) AS weight,
           ROUND(epochs, 6) AS epochs
    FROM ({curation.temperature_mixture_sql(
        _MIX_STATS_SQL.format(tok=_TOKENS_SQL),
        alpha=0.7,
        target_tokens=1_000_000,
    )})
"""


# X40: boilerplate spans — orders/lineitem replay as span documents:
# every page carries host-constant NAV and FOOTER chrome; content
# spans are the per-line part names
_BP_SPANS_SQL = """
    SELECT o_orderkey % 30 AS host, o_orderkey AS page_id,
           'NAV home about contact host ' || CAST(o_orderkey % 30 AS VARCHAR) AS text
    FROM orders
    UNION ALL
    SELECT o_orderkey % 30 AS host, o_orderkey AS page_id,
           'FOOTER copyright host ' || CAST(o_orderkey % 30 AS VARCHAR) AS text
    FROM orders
    UNION ALL
    SELECT l_orderkey % 30 AS host, l_orderkey AS page_id,
           p_name || ' line ' || CAST(l_linenumber AS VARCHAR) AS text
    FROM lineitem JOIN part ON l_partkey = p_partkey
"""


def _bp_spans(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    nav = o.select(
        (F.col("o_orderkey") % 30).alias("host"),
        F.col("o_orderkey").alias("page_id"),
        F.concat(
            F.lit("NAV home about contact host "),
            (F.col("o_orderkey") % 30).cast("string"),
        ).alias("text"),
    )
    foot = o.select(
        (F.col("o_orderkey") % 30).alias("host"),
        F.col("o_orderkey").alias("page_id"),
        F.concat(
            F.lit("FOOTER copyright host "),
            (F.col("o_orderkey") % 30).cast("string"),
        ).alias("text"),
    )
    content = li.join(
        F.broadcast(p), li["l_partkey"] == p["p_partkey"]
    ).select(
        (F.col("l_orderkey") % 30).alias("host"),
        F.col("l_orderkey").alias("page_id"),
        F.concat(
            F.col("p_name"),
            F.lit(" line "),
            F.col("l_linenumber").cast("string"),
        ).alias("text"),
    )
    return nav.unionByName(foot).unionByName(content)


@q(
    "boilerplate_detection",
    f"""
    WITH {boilerplate.boilerplate_sql_ctes(_BP_SPANS_SQL)}
    SELECT host, span_md5, n_pages_with_span, n_pages,
           ROUND(page_frac, 6) AS page_frac, is_boilerplate
    FROM bp_keys
    """,
)
def q_boilerplate_detection(spark, sf_dir):
    """X40: cross-page boilerplate detection
    (boilerplate.boilerplate_keys) — spans whose text repeats across
    most of a host's pages are site chrome; identified by md5 key
    (text bodies never shuffle), page evidence counted DISTINCT, the
    jusText idea at corpus scale."""
    keys = boilerplate.boilerplate_keys(_bp_spans(spark, sf_dir))
    return keys.select(
        "host",
        "span_md5",
        "n_pages_with_span",
        "n_pages",
        F.round("page_frac", 6).alias("page_frac"),
        "is_boilerplate",
    )


@q(
    "boilerplate_strip_stats",
    f"""
    WITH {boilerplate.boilerplate_sql_ctes(_BP_SPANS_SQL)},
    bp_all AS (
      SELECT host, page_id, text, md5(text) AS _k
      FROM ({_BP_SPANS_SQL})
    ),
    bp_kept AS (
      SELECT a.* FROM bp_all a
      WHERE NOT EXISTS (
        SELECT 1 FROM bp_keys k
        WHERE k.is_boilerplate AND k.host = a.host AND k.span_md5 = a._k
      )
    )
    SELECT t.host, t.n_spans, COALESCE(s.n_kept, 0) AS n_kept
    FROM (SELECT host, COUNT(*) AS n_spans FROM bp_all GROUP BY host) t
    LEFT JOIN (SELECT host, COUNT(*) AS n_kept FROM bp_kept GROUP BY host) s
      ON t.host = s.host
    """,
)
def q_boilerplate_strip_stats(spark, sf_dir):
    """X40: boilerplate strip stats — per host, span counts before and
    after removing the flagged chrome. r6: the operator-composed form
    (boilerplate_keys + strip_boilerplate + two count passes) executed
    the span builder FOUR times (per-span agg, per-host agg, anti-join
    probe, before-count). The stats never need span text — only
    (host, page_id, md5(text)) — so the query derives everything from
    ONE checkpointed keyed-proxy table (the guide's decide-on-small-
    rows pattern: the proxy is 3 narrow columns and stays bounded no
    matter how large spans grow at corpus scale):
    - per-host pass fuses n_pages (countDistinct) with the before
      count (n_spans) in one aggregation;
    - flagged keys = per-span join per-host with the SAME
      (page_frac > PAGE_FRAC AND n_pages >= MIN_PAGES) predicate
      boilerplate_keys computes, on the module's own thresholds
      (long/long division is double in both engines);
    - n_kept = broadcast anti-join of the proxy against the flagged
      (host, md5) pairs — identical survivors to strip_boilerplate
      because the anti-join key is exactly (host, md5(text)).
    Parity with the operator-composed form is pytest-gated
    (test_r06_optimizations.py::test_boilerplate_strip_stats_parity)."""
    spans = _bp_spans(spark, sf_dir)
    keyed = spans.select(
        "host",
        F.col("page_id").alias("_pg"),
        F.md5("text").alias("_k"),
    ).localCheckpoint()
    per_span = keyed.groupBy("host", "_k").agg(
        F.countDistinct("_pg").alias("_nps")
    )
    per_host = keyed.groupBy("host").agg(
        F.countDistinct("_pg").alias("_np"),
        F.count("*").alias("n_spans"),
    )
    flagged = (
        per_span.join(per_host.select("host", "_np"), "host")
        .filter(
            (F.col("_nps") / F.col("_np") > F.lit(boilerplate.PAGE_FRAC))
            & (F.col("_np") >= F.lit(boilerplate.MIN_PAGES))
        )
        .select("host", "_k")
    )
    after = (
        keyed.join(F.broadcast(flagged), ["host", "_k"], "left_anti")
        .groupBy("host")
        .agg(F.count("*").alias("n_kept"))
    )
    return (
        per_host.select("host", "n_spans")
        .join(after, "host", "left")
        .select(
            "host",
            "n_spans",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
        )
    )


# X41: corpus-wide line dedup — orders replayed as multi-line documents
# (one header line per order + one p_name line per lineitem; part names
# recur across ~30 orders each, the natural cross-document duplication)
_LD_DOCS_SQL = """
    SELECT o_orderkey AS doc_id,
           'order hdr ' || CAST(o_orderkey AS VARCHAR) || chr(10) ||
           string_agg(p_name, chr(10) ORDER BY l_linenumber, p_name) AS text
    FROM orders
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN part ON l_partkey = p_partkey
    GROUP BY o_orderkey
"""
_LD_CTES = linededup.line_dedup_sql_ctes(_LD_DOCS_SQL, min_chars=5, min_dup_docs=2)


def _ld_docs(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    lines = li.join(
        F.broadcast(p), li["l_partkey"] == p["p_partkey"]
    ).select(
        F.col("l_orderkey").alias("doc_id"),
        F.col("l_linenumber").alias("ln"),
        F.col("p_name").alias("line"),
    )
    return (
        lines.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ln", "line"))),
                    lambda x: x["line"],
                ),
                "\n",
            ).alias("_body")
        )
        .join(
            load(spark, sf_dir, "orders").select(
                F.col("o_orderkey").alias("doc_id")
            ),
            "doc_id",
        )
        .select(
            "doc_id",
            F.concat(
                F.lit("order hdr "),
                F.col("doc_id").cast("string"),
                F.lit("\n"),
                F.col("_body"),
            ).alias("text"),
        )
    )


@q(
    "line_dedup_docs",
    f"""
    WITH {_LD_CTES}
    SELECT doc_id, md5(text) AS text_md5, n_lines, n_kept
    FROM ld_docs_out
    """,
)
def q_line_dedup_docs(spark, sf_dir):
    """X41: C4/RefinedWeb line-level corpus dedup
    (linededup.line_dedup) — repeated part-name lines keep only the
    canonical (min doc_id, pos) instance; reassembled documents
    compared by md5, so the twin must match byte-for-byte including
    line order."""
    out = linededup.line_dedup(
        _ld_docs(spark, sf_dir), min_chars=5, min_dup_docs=2
    )
    return out.select(
        "doc_id",
        F.md5(F.col("text")).alias("text_md5"),
        "n_lines",
        "n_kept",
    )


@q(
    "line_dedup_dup_stats",
    f"""
    WITH {_LD_CTES}
    SELECT n_docs_with_line,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(n_instances) AS BIGINT) AS n_instances
    FROM ld_dups
    GROUP BY n_docs_with_line
    """,
)
def q_line_dedup_dup_stats(spark, sf_dir):
    """X41: duplication profile (linededup.line_dup_keys) — how many
    distinct line keys recur in exactly k documents, and the instance
    mass behind them (the removal-volume estimate a pipeline reads
    before committing to line dedup)."""
    keys = linededup.line_dup_keys(
        _ld_docs(spark, sf_dir), min_chars=5, min_dup_docs=2
    )
    return keys.groupBy("n_docs_with_line").agg(
        F.count("*").alias("n_keys"),
        F.sum("n_instances").cast("long").alias("n_instances"),
    )


# X43: encoding quality — the sf corpus is clean by construction, so
# the queries inject deterministic corruption (cp1252 mojibake on
# doc_id%7, replacement chars on %11==3, a C0 control on %13==5) and
# both engines profile/repair the same dirtied text
_ENC_DIRTY_SQL = """
    SELECT doc_id, source,
           text
           || CASE WHEN doc_id % 7 = 0 THEN ' cafÃ© â€™' ELSE '' END
           || CASE WHEN doc_id % 11 = 3 THEN ' �' ELSE '' END
           || CASE WHEN doc_id % 13 = 5 THEN chr(1) || 'x' ELSE '' END
             AS text
    FROM documents
"""


def _enc_dirty(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" cafÃ© â€™")).otherwise(
                F.lit("")
            ),
            F.when(F.col("doc_id") % 11 == 3, F.lit(" �")).otherwise(
                F.lit("")
            ),
            F.when(F.col("doc_id") % 13 == 5, F.lit("\x01x")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )


def _enc_counts_sql() -> dict[str, str]:
    return encoding.encoding_counts_sql("text")


@q(
    "encoding_quality_stats",
    f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(({_enc_counts_sql()['n_mojibake']} > 0
                OR {_enc_counts_sql()['n_replacement']} > 0
                OR {_enc_counts_sql()['n_control']} > 0) AS BIGINT)) AS BIGINT)
             AS n_suspect,
           CAST(SUM({_enc_counts_sql()['n_mojibake']}) AS BIGINT) AS n_mojibake,
           CAST(SUM({_enc_counts_sql()['n_replacement']}) AS BIGINT) AS n_replacement,
           CAST(SUM({_enc_counts_sql()['n_control']}) AS BIGINT) AS n_control
    FROM ({_ENC_DIRTY_SQL})
    GROUP BY source
    """,
)
def q_encoding_quality_stats(spark, sf_dir):
    """X43: per-source encoding-corruption profile
    (encoding.encoding_profile) — mojibake / replacement-char / C0
    counters and the suspect-document count, the report a pipeline
    reads before deciding to repair vs drop."""
    prof = encoding.encoding_profile(_enc_dirty(spark, sf_dir))
    src = _enc_dirty(spark, sf_dir).select("doc_id", "source")
    return (
        prof.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("is_suspect").cast("long")).alias("n_suspect"),
            F.sum("n_mojibake").cast("long").alias("n_mojibake"),
            F.sum("n_replacement").cast("long").alias("n_replacement"),
            F.sum("n_control").cast("long").alias("n_control"),
        )
    )


@q(
    "encoding_repair_sample",
    f"""
    SELECT doc_id,
           {_enc_counts_sql()['n_mojibake']} AS n_mojibake,
           md5({encoding.fix_encoding_sql('text')}) AS fixed_md5
    FROM ({_ENC_DIRTY_SQL})
    WHERE doc_id % 97 = 0
    """,
)
def q_encoding_repair_sample(spark, sf_dir):
    """X43: byte-exact repair parity (encoding.fix_encoding) on the
    doc_id%97 sample — the repaired text compared by md5, so the
    literal-replace chain and control strip must match the twin
    exactly."""
    d = _enc_dirty(spark, sf_dir).filter(F.col("doc_id") % 97 == 0)
    prof = encoding.encoding_profile(d)
    return prof.select(
        "doc_id",
        "n_mojibake",
        F.md5(F.col("fixed")).alias("fixed_md5"),
    )


# X44: shingle containment — documents plus planted verbatim excerpts
# (words 11..30 of every 5th doc, id offset 3*_DUP_OFF): the excerpt's
# Jaccard vs its source is ~0.2 (invisible to the near-dup queries) but
# its containment is 1.0
_CONT_CORPUS_SQL = f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {3 * _DUP_OFF} AS doc_id,
           array_to_string(regexp_split_to_array(trim(text), '\\s+')[11:30], ' ') AS text
    FROM documents
    WHERE doc_id % 5 = 0
      AND length(regexp_split_to_array(trim(text), '\\s+')) >= 30
"""


def _cont_corpus(spark, sf_dir):
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    w = F.split(F.trim(F.col("text")), r"\s+")
    ex = (
        d.filter((F.col("doc_id") % 5 == 0) & (F.size(w) >= 30))
        .select(
            (F.col("doc_id") + 3 * _DUP_OFF).alias("doc_id"),
            F.array_join(F.slice(w, 11, 20), " ").alias("text"),
        )
    )
    return d.unionByName(ex)


@q(
    "containment_pairs",
    f"""
    WITH ex AS (
      SELECT DISTINCT doc_id, s.sh
      FROM (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS w
        FROM ({_CONT_CORPUS_SQL}) cc
      ) c, LATERAL UNNEST(
        CASE WHEN length(w) < 5 THEN [array_to_string(w, ' ')]
             ELSE list_transform(range(1, length(w) - 3),
                  i -> array_to_string(w[i:i+4], ' ')) END
      ) AS s(sh)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM ex GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
           ROUND(n_common * 1.0 / sa.n_sh, 6) AS cont_a_in_b,
           ROUND(n_common * 1.0 / sb.n_sh, 6) AS cont_b_in_a
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE GREATEST(n_common * 1.0 / sa.n_sh,
                   n_common * 1.0 / sb.n_sh) >= 0.8
    """,
)
def q_containment_pairs(spark, sf_dir):
    """X44: asymmetric containment detection
    (dedup.containment_pairs) — |A∩B|/|A| over word-5-shingle sets;
    every planted excerpt is caught at containment 1.0 while its
    Jaccard (~0.2) sits far below the ngram_jaccard_pairs threshold.
    Exact self-join form at this tier; the candidate-driven
    restriction is parity-gated in tests/test_containment.py."""
    out = dedup.containment_pairs(
        _cont_corpus(spark, sf_dir),
        "text",
        "doc_id",
        k=5,
        min_containment=0.8,
    )
    return out.select(
        "id_a",
        "id_b",
        "n_common",
        "n_a",
        "n_b",
        F.round("containment_a_in_b", 6).alias("cont_a_in_b"),
        F.round("containment_b_in_a", 6).alias("cont_b_in_a"),
    )


# X33: hashed-feature logistic classifier — shared geometry between the
# Spark pipeline and the unrolled DuckDB GD twin
_CLF_DIM = 16
_CLF_ITERS = 2
_CLF_CTES = classifier.logreg_sql_ctes(_CLF_DIM, n_iters=_CLF_ITERS, lr=1.0)


def _clf_train(spark, sf_dir):
    # fanned on the feature groupBy key (r6): the token explode + hash
    # featurization otherwise runs on the single-row-group scan task
    d = fan_out(
        load(spark, sf_dir, "documents"),
        "doc_id",
        splits=scan_splits(spark, f"{sf_dir}/documents.parquet"),
    ).withColumn(
        "is_en", (F.col("lang") == "en").cast("int")
    )
    feats = classifier.hashed_features(d, dim=_CLF_DIM, label_col="is_en")
    w, b = classifier.train_logreg(
        feats, dim=_CLF_DIM, n_iters=_CLF_ITERS, lr=1.0
    )
    return feats, w, b


@q(
    "quality_classifier_weights",
    f"""
    WITH {_CLF_CTES}
    SELECT bucket, ROUND(weight, 6) AS weight FROM w{_CLF_ITERS}
    UNION ALL
    SELECT CAST(-1 AS BIGINT) AS bucket, ROUND(bias, 6) AS weight
    FROM b{_CLF_ITERS}
    """,
)
def q_quality_classifier_weights(spark, sf_dir):
    """X33: distributed full-batch logistic GD
    (classifier.train_logreg) — the fastText-shaped curation
    classifier, here trained to recognize lang='en' from hashed
    bag-of-words term frequencies. The model state (16+1 doubles)
    lives driver-side as plan literals (the Lloyd convention); the
    oracle unrolls both GD rounds in SQL and compares every weight at
    6 decimals. Bias reported as bucket -1."""
    _, w, b = _clf_train(spark, sf_dir)
    raw = spark.createDataFrame(
        [(j, wj) for j, wj in enumerate(w)] + [(-1, b)],
        "bucket long, weight double",
    )
    return raw.select("bucket", F.round("weight", 6).alias("weight"))


@q(
    "quality_classifier_confusion",
    f"""
    WITH {_CLF_CTES}
    SELECT CAST(y AS INT) AS label,
           CASE WHEN p >= CAST(0.5 AS DOUBLE) THEN 1 ELSE 0 END AS pred,
           COUNT(*) AS n_docs,
           ROUND(AVG(p), 6) AS avg_p
    FROM score{_CLF_ITERS}
    GROUP BY 1, 2
    """,
)
def q_quality_classifier_confusion(spark, sf_dir):
    """X33: the trained classifier's confusion profile — score every
    document (one literal-array margin pass, no Python) and tally
    (label, predicted) cells with the mean score; the table a
    curation designer reads before picking the admission threshold."""
    feats, w, b = _clf_train(spark, sf_dir)
    scored = classifier.predict(feats, w, b)
    return (
        scored.groupBy(
            F.col("y").cast("int").alias("label"),
            F.when(F.col("p") >= 0.5, 1).otherwise(0).alias("pred"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("p"), 6).alias("avg_p"),
        )
    )


_PII_PLANT_SQL = """
  SELECT doc_id,
    text
    || CASE WHEN doc_id % 5 = 0
            THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
            ELSE '' END
    || CASE WHEN doc_id % 7 = 0 THEN ' call +81 3-1234-5678' ELSE '' END
    || CASE WHEN doc_id % 11 = 0
            THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
            ELSE '' END AS text
  FROM documents
"""


@q(
    "pii_scrub_stats",
    f"""
    WITH planted AS ({_PII_PLANT_SQL})
    SELECT doc_id, n_email, n_ipv4, n_phone,
      md5(scrubbed) AS scrub_md5,
      CAST(length(scrubbed) AS INT) AS scrub_len
    FROM ({scrubbing.scrub_pii_sql(relation="planted")}) s
    """,
)
def q_pii_scrub_stats(spark, sf_dir):
    """PII redaction audit (scrubbing.scrub_pii) over the corpus with
    deterministically planted emails/phones/IPs: per-type match
    counts plus the md5 + length of the redacted text, so the oracle
    pins the EXACT output bytes of every replacement, not just the
    counts. Same pattern strings verbatim on both engines (the
    Java-regex/RE2 common subset, scrubbing.REDACTIONS)."""
    d = load(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 7 == 0, F.lit(" call +81 3-1234-5678")
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
                    F.lit(".7"),
                ),
            ).otherwise(""),
        ).alias("text"),
    )
    s = scrubbing.scrub_pii(planted)
    return s.select(
        "doc_id",
        "n_email",
        "n_ipv4",
        "n_phone",
        F.md5("scrubbed").alias("scrub_md5"),
        F.length("scrubbed").alias("scrub_len"),
    )


@q(
    "benchmark_contamination",
    f"""
    WITH corpus AS ({_CORPUS_SQL}),
    bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
    cw AS (
      SELECT doc_id, trim(text) AS tt,
             regexp_split_to_array(trim(text), '\\s+') AS w
      FROM corpus
    ),
    bw AS (
      SELECT trim(text) AS tt,
             regexp_split_to_array(trim(text), '\\s+') AS w
      FROM bench
    ),
    spans AS (
      SELECT doc_id, u AS gram_hash
      FROM cw,
      UNNEST(CASE WHEN tt != '' AND len(w) >= {_K_SUBSTR}
                  THEN list_transform(range(1, len(w) - {_K_SUBSTR} + 2),
                                      i -> {_GRAM_H})
                  ELSE [] END) AS t(u)
    ),
    bg AS (
      SELECT DISTINCT u AS gram_hash
      FROM bw,
      UNNEST(CASE WHEN tt != '' AND len(w) >= {_K_SUBSTR}
                  THEN list_transform(range(1, len(w) - {_K_SUBSTR} + 2),
                                      i -> {_GRAM_H})
                  ELSE [] END) AS t(u)
    ),
    per_doc AS (SELECT doc_id, COUNT(*) AS n_grams FROM spans GROUP BY doc_id),
    hit AS (
      SELECT s.doc_id, COUNT(*) AS n_contaminated
      FROM spans s JOIN bg USING (gram_hash) GROUP BY s.doc_id
    )
    SELECT c.doc_id,
      CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
      CAST(COALESCE(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
      CASE WHEN COALESCE(p.n_grams, 0) = 0 THEN 0.0
           ELSE ROUND(CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE) / p.n_grams, 6)
      END AS contamination_frac
    FROM corpus c
    LEFT JOIN per_doc p USING (doc_id)
    LEFT JOIN hit h USING (doc_id)
    """,
)
def q_benchmark_contamination(spark, sf_dir):
    """Eval-set decontamination (substrings.contamination_stats):
    every 97th base document plays the benchmark; the planted-dup
    corpus then contains each benchmark doc's exact copy (and a
    near copy), which light up at contamination ~1.0 while unrelated
    docs stay at 0.0. Benchmark gram hashes are broadcast — the
    100-TB plan never shuffles the corpus side against an eval set
    (plan-gated in tests/test_substrings.py)."""
    d = load(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    s = substrings.contamination_stats(
        _corpus(spark, sf_dir), bench, k=_K_SUBSTR
    )
    return s.select(
        "doc_id",
        "n_grams",
        "n_contaminated",
        F.round("contamination_frac", 6).alias("contamination_frac"),
    )


_TB_BUDGETS = {"a": 5000, "b": 2000}  # tokens; c unlisted -> dropped.
# Budgets sit far below ANY tier's per-stratum token volume (sf0.01
# already carries ~8k tokens per stratum), so the cut bites — and the
# kept set is literally tier-nested (the sf1 lesson: literals must
# clear every tier; here the semantics make the literal tier-safe)


@q(
    "token_budget_mix",
    f"""
    SELECT doc_id, stratum FROM (
      SELECT doc_id, stratum,
        CAST(SUM(n_tok) OVER (PARTITION BY stratum ORDER BY {portable_hash64_sql("CAST(doc_id AS VARCHAR)", salt="budget")})
             - n_tok AS BIGINT) AS before
      FROM (
        SELECT doc_id, {_STRAT_CASE} AS stratum,
               CAST({_TOKENS_SQL} AS BIGINT) AS n_tok
        FROM documents
      ) s
    ) p
    WHERE before < CASE stratum WHEN 'a' THEN 5000 WHEN 'b' THEN 2000 END
    """,
)
def q_token_budget_mix(spark, sf_dir):
    """Budget-exact mixture execution (curation.token_budget_sample):
    per stratum, keep documents in portable-hash order until the token
    budget is reached (exclusive-prefix-sum cut — overshoot at most
    one doc, nested in the budget, deterministic in the keys). One
    window PARTITIONED BY STRATUM, so strata sort in parallel."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.element_at(
            F.array(F.lit("a"), F.lit("b"), F.lit("c")),
            (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
        ).alias("stratum"),
        analysis.token_count(F.col("text")).alias("n_tok"),
    )
    return curation.token_budget_sample(
        d, _TB_BUDGETS, "stratum", "n_tok", "doc_id"
    ).select("doc_id", "stratum")


@q(
    "source_mixture_report",
    f"""
    SELECT source, lang,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM({_TOKENS_SQL}) AS BIGINT) AS n_tokens,
      CAST(SUM(CASE WHEN reason IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
      ROUND(AVG(quality), 6) AS avg_quality,
      ROUND(SUM(CASE WHEN reason IS NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS admission_rate
    FROM (
      SELECT source, lang, text,
        CASE
          WHEN n IS NULL OR n < 50 THEN 'too_short'
          WHEN n > 5000 THEN 'too_long'
          WHEN mean_wl < 2 OR mean_wl > 12 THEN 'word_length'
          WHEN punct >= 0.1 THEN 'punctuation'
          WHEN stopr < 0.05 OR stopr > 0.6 THEN 'stopwords'
        END AS reason,
        (CASE WHEN n BETWEEN 50 AND 5000 THEN 1 ELSE 0 END
         + CASE WHEN mean_wl BETWEEN 2 AND 12 AND mean_wl > 0 THEN 1 ELSE 0 END
         + CASE WHEN punct < 0.1 THEN 1 ELSE 0 END
         + CASE WHEN stopr BETWEEN 0.05 AND 0.6 THEN 1 ELSE 0 END) AS quality
      FROM (
        SELECT source, lang, text, doc_id, length(text) AS n,
          CASE WHEN {_TOKENS_SQL} > 0
               THEN length(text) * 1.0 / ({_TOKENS_SQL}) ELSE 0.0 END AS mean_wl,
          CASE WHEN length(text) = 0 THEN 0.0
               ELSE (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) * 1.0 / length(text) END AS punct,
          CASE WHEN length(regexp_split_to_array(lower(trim(text)), '\\s+')) = 0 THEN 0.0
               ELSE length(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                      w -> list_contains({_STOPWORDS_SQL}, w))) * 1.0
                    / length(regexp_split_to_array(lower(trim(text)), '\\s+')) END AS stopr
        FROM documents
      ) m
    ) r
    GROUP BY source, lang
    """,
)
def q_source_mixture_report(spark, sf_dir):
    """Per-(source, lang) curation rollup — the report a mixture
    designer reads before setting hash_stratified_sample fractions:
    doc/token volumes, mean 0-4 quality score, and the admission rate
    under the training_filter cascade. One partial+final hash
    aggregate over map-side Column metrics; int sums are order-free,
    so cross-engine AVG/rate equality is exact."""
    d = load(spark, sf_dir, "documents")
    t = F.col("text")
    f = analysis.training_filter(d)
    return f.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(analysis.token_count(t)).cast("long").alias("n_tokens"),
        F.sum(F.col("keep").cast("int")).cast("long").alias("n_admitted"),
        F.round(F.avg(analysis.quality_score(t)), 6).alias("avg_quality"),
        F.round(
            F.sum(F.col("keep").cast("int")) / F.count("*"), 6
        ).alias("admission_rate"),
    )


@q(
    "semantic_dedup_flags",
    f"""
    WITH emb0 AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    corpus AS (
      SELECT vec_id, e FROM emb0
      UNION ALL
      SELECT vec_id + 100000000 AS vec_id, list_transform(e, x -> x * 2.0) AS e
      FROM emb0 WHERE vec_id % 7 = 0
    ),
    cn AS (SELECT vec_id AS cid, e FROM emb0 WHERE vec_id < 8),
    assigned AS (
      SELECT vec_id, CAST(cid AS INTEGER) AS cell, cos AS ccos FROM (
        SELECT m.vec_id, c.cid, ROUND({_cos_sql('m.e', 'c.e')}, 9) AS cos,
               ROW_NUMBER() OVER (PARTITION BY m.vec_id
                 ORDER BY ROUND({_cos_sql('m.e', 'c.e')}, 9) DESC, c.cid) AS rn
        FROM corpus m, cn c
      ) s WHERE rn = 1
    ),
    av AS (
      SELECT a.vec_id, a.cell, a.ccos, m.e
      FROM assigned a JOIN corpus m USING (vec_id)
    ),
    removed AS (
      SELECT DISTINCT y.vec_id
      FROM av x JOIN av y ON x.cell = y.cell
       AND (x.ccos < y.ccos OR (x.ccos = y.ccos AND x.vec_id < y.vec_id))
      WHERE ROUND({_cos_sql('x.e', 'y.e')}, 9) >= 0.92
    )
    SELECT a.vec_id, a.cell, ROUND(a.ccos, 6) AS ccos,
           (r.vec_id IS NULL) AS kept
    FROM assigned a LEFT JOIN removed r ON a.vec_id = r.vec_id
    """,
)
def q_semantic_dedup_flags(spark, sf_dir):
    """SemDeDup semantic deduplication (dedup.semantic_dedup): assign
    every vector (plus planted x2-scaled duplicates of every 7th) to
    its nearest of 8 seed centroids, order each cell farthest-from-
    centroid first, and flag an item removed iff an earlier cell-mate
    has cosine >= 0.92. The pair space is within-cell only — a shuffle
    equi-join on cell, never all-pairs; with trained centroids
    (similarity.ivf_train_centroids) C scales with n so sum(n_c^2)
    stays linear. Planted duplicates share their base's direction,
    hence its cell AND ccos — the id tie-break keeps the base."""
    e = load(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    planted = e.filter(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + _DUP_OFF).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") * 2.0).alias("embedding"),
    )
    corpus = base.unionByName(planted)
    small = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in e.filter(F.col("vec_id") < 8).collect()
    }
    centroids = [small[i] for i in sorted(small)]
    flags = dedup.semantic_dedup(corpus, centroids, tau=0.92)
    return flags.select(
        "vec_id", "cell", F.round("ccos", 6).alias("ccos"), "kept"
    )


@q(
    "corpus_shuffle_seq",
    f"""
    SELECT doc_id,
           {curation.portable_hash64_sql("CAST(doc_id AS VARCHAR)", salt='epoch-1:')} AS shuffle_key,
           CAST(ROW_NUMBER() OVER (
             ORDER BY {curation.deterministic_shuffle_sql('epoch-1:', 'doc_id')}
           ) AS BIGINT) AS seq
    FROM documents
    """,
)
def q_corpus_shuffle_seq(spark, sf_dir):
    """Seeded epoch shuffle (curation.deterministic_shuffle): permute
    the corpus by the portable hash of (seed || doc_id) — reproducible
    across runs and engines, no RNG state — then assign the 1-based
    global position with reorganize.global_sequence's bucketed
    two-phase ranking (range exchange + per-bucket windows + broadcast
    offsets; no single-partition window, no orderBy(rand())). The
    oracle replays the identical permutation as one ORDER BY."""
    d = load(spark, sf_dir, "documents")
    shuffled = curation.deterministic_shuffle(d, seed="epoch-1:", id_col="doc_id")
    seqd = reorganize.global_sequence(
        shuffled, "shuffle_key", buckets=8, out_col="seq"
    )
    return seqd.select("doc_id", "shuffle_key", F.col("seq").cast("long").alias("seq"))


_DIFF_FP_SQL = (
    "md5(concat_ws(chr(31),"
    " COALESCE(CAST(text AS VARCHAR), chr(0) || 'NULL'),"
    " COALESCE(lang, chr(0) || 'NULL')))"
)


@q(
    "corpus_version_diff",
    f"""
    WITH oldv AS (
      SELECT doc_id, text, lang FROM documents WHERE doc_id % 10 <> 3
    ),
    newv AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN text || ' [rev2]' ELSE text END AS text,
             lang
      FROM documents WHERE doc_id % 7 <> 2
    ),
    o AS (SELECT doc_id, {_DIFF_FP_SQL} AS old_fp FROM oldv),
    n AS (SELECT doc_id, {_DIFF_FP_SQL} AS new_fp FROM newv)
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id, o.old_fp, n.new_fp,
           CASE WHEN o.old_fp IS NULL THEN 'added'
                WHEN n.new_fp IS NULL THEN 'removed'
                WHEN o.old_fp = n.new_fp THEN 'unchanged'
                ELSE 'changed' END AS change
    FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
    """,
)
def q_corpus_version_diff(spark, sf_dir):
    """Corpus version audit (stats.corpus_diff): two deterministic
    snapshots of the documents table (drops + a revised-text subset)
    diffed by content fingerprint — one map-side md5 per side, one
    full-outer equi-join on doc_id (fingerprints through the shuffle,
    never text), rows classified added/removed/changed/unchanged. The
    anti-'unchanged' filter of this output is exactly the delta the
    incremental indexes (X15) consume."""
    d = load(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 10 != 3).select("doc_id", "text", "lang")
    new = d.filter(F.col("doc_id") % 7 != 2).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
        "lang",
    )
    return stats.corpus_diff(old, new, "doc_id", ("text", "lang"))


# ===========================================================================
# X46: HTML -> text extraction
# ===========================================================================

# deterministic markup wrapper built IDENTICALLY on both engines (the
# encoding-dirt-injection convention): chrome carries every stripped
# construct — comment, script (with a fake tag inside), style, title
# entities, list items, two links
_HTML_PARTS = [
    '<html><head><title>Doc &amp; ', "{src}",
    '</title><style>p: red</style></head><body><!-- nav chrome -->',
    '<script type="text/javascript">var a = 1 < 2; // </div></script>',
    "<h1>", "{src}", "</h1><p>", "{text}",
    '</p><ul><li>&lt;i&gt; one</li><li>two</li></ul><a href="/doc/',
    "{id}", '">next</a> <a href="https://src.example/s/', "{src}",
    '">source</a></body></html>',
]


def _html_pages(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    sub = {
        "{src}": F.col("source"),
        "{text}": F.col("text"),
        "{id}": F.col("doc_id").cast("string"),
    }
    html = F.concat(*[sub.get(p, F.lit(p)) for p in _HTML_PARTS])
    return d.select("doc_id", html.alias("html"))


def _html_pages_sql() -> str:
    sub = {"{src}": "source", "{text}": "text", "{id}": "CAST(doc_id AS VARCHAR)"}
    # '||' (not CONCAT): DuckDB CONCAT skips NULLs, Spark concat nulls out
    html = " || ".join(
        sub.get(p, "'" + p.replace("'", "''") + "'") for p in _HTML_PARTS
    )
    return f"SELECT doc_id, {html} AS html FROM documents"


@q(
    "html_extraction",
    f"""
    WITH pages AS ({_html_pages_sql()}),
    t AS (
      SELECT doc_id,
             {extraction.extract_title_sql('html')} AS title,
             {extraction.html_to_text_sql('html')} AS text,
             {extraction.extract_links_sql('html')} AS links,
             length(html) AS n_html
      FROM pages
    )
    SELECT doc_id, title, md5(text) AS text_md5,
           length(text) AS n_text_chars,
           CAST(length(links) AS INT) AS n_links,
           links[1] AS first_link,
           ROUND(length(text) * 1.0 / n_html, 6) AS text_ratio
    FROM t
    """,
)
def q_html_extraction(spark, sf_dir):
    """X46: template-free HTML -> text extraction
    (text/extraction.py) — script/style/comment/title strip, block
    tags to newlines, single-pass entity decode, whitespace
    normalization, plus title/outlink extraction and the jusText
    text-ratio signal; one map-side scan, all patterns in the
    Java/RE2 common subset so the oracle runs them verbatim.
    Extracted text pinned by md5."""
    out = extraction.extraction_profile(_html_pages(spark, sf_dir))
    return out.select(
        "doc_id",
        "title",
        F.md5("text").alias("text_md5"),
        F.length("text").alias("n_text_chars"),
        "n_links",
        "first_link",
        "text_ratio",
    )


# ===========================================================================
# X48: WARC record source/sink roundtrip
# ===========================================================================

# the writer's HTTP head as a DuckDB literal (CRLFs via chr())
_WARC_HEAD_SQL = (
    " || chr(13) || chr(10) || ".join(
        "'" + piece.replace("'", "''") + "'"
        for piece in warc.HTTP_HEAD.split("\r\n")[:-1]
    )
    + " || chr(13) || chr(10)"
)
_WARC_SHARDS = 8


@q(
    "warc_roundtrip",
    f"""
    WITH payload AS (
      SELECT doc_id,
             {_WARC_HEAD_SQL} || COALESCE(text, '') AS body
      FROM documents
    )
    SELECT 'https://corpus.example/doc/' || CAST(doc_id AS VARCHAR) AS target_uri,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id % {_WARC_SHARDS}
                                   ORDER BY doc_id) - 1 AS INT) AS record_idx,
           'response' AS warc_type,
           CAST(octet_length(encode(body)) AS BIGINT) AS content_length,
           md5(body) AS payload_md5
    FROM payload
    """,
)
def q_warc_roundtrip(spark, sf_dir):
    """X48: WARC container roundtrip (sources/warc.py) — documents
    framed into deterministic per-shard WARC blobs (applyInPandas,
    records id-sorted within shard, content-derived record ids) and
    parsed back through the Arrow mapInPandas record parser; the
    oracle recomputes every framing invariant (uri, within-shard
    ordinal, byte length, payload md5) straight from the documents
    table — so a framing bug on EITHER side breaks the hash."""
    d = load(spark, sf_dir, "documents")
    blobs = warc.docs_to_warc(d, n_shards=_WARC_SHARDS).select(
        F.col("shard").cast("string").alias("path"), "content"
    )
    recs = warc.parse_warc_blobs(blobs)
    return recs.select(
        "target_uri",
        "record_idx",
        "warc_type",
        "content_length",
        F.md5("payload").alias("payload_md5"),
    )


# ===========================================================================
# X47: DSIR importance resampling
# ===========================================================================

_DSIR_DIM = 32
_DSIR_K = 0.5
# shared distribution/log-ratio CTEs: hashed uni+bigram counts of the
# raw corpus (all documents) and the target slice (lang='fr'),
# add-k-smoothed log ratios in the exact Spark-side operation order
_DSIR_B = dsir.gram_buckets_sql("text", _DSIR_DIM)
_DSIR_CTES = f"""
    rb AS (SELECT doc_id, {_DSIR_B} AS b FROM documents),
    tb AS (SELECT {_DSIR_B} AS b FROM documents WHERE lang = 'fr'),
    rc AS (SELECT u.x AS bucket, COUNT(*) AS c
           FROM rb, UNNEST(b) AS u(x) GROUP BY 1),
    tc AS (SELECT u.x AS bucket, COUNT(*) AS c
           FROM tb, UNNEST(b) AS u(x) GROUP BY 1),
    rtot AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n FROM rc),
    -- COALESCE: an empty target slice must smooth like Spark's 0-count
    ttot AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n FROM tc),
    lr AS (
      SELECT d.bucket,
             ln((COALESCE(tc.c, 0) + {_DSIR_K}) / (ttot.n + {_DSIR_K} * {_DSIR_DIM}))
           - ln((COALESCE(rc.c, 0) + {_DSIR_K}) / (rtot.n + {_DSIR_K} * {_DSIR_DIM})) AS log_ratio
      FROM (SELECT UNNEST(range({_DSIR_DIM})) AS bucket) d
      LEFT JOIN rc ON rc.bucket = d.bucket
      LEFT JOIN tc ON tc.bucket = d.bucket
      CROSS JOIN rtot CROSS JOIN ttot
    )
"""


def _dsir_lr(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return dsir.dsir_log_ratios(
        d, d.filter(F.col("lang") == "fr"), _DSIR_DIM, k=_DSIR_K
    )


@q(
    "dsir_log_ratios",
    f"""
    WITH {_DSIR_CTES}
    SELECT bucket, ROUND(log_ratio, 6) AS log_ratio FROM lr
    """,
)
def q_dsir_log_ratios(spark, sf_dir):
    """X47: DSIR model estimation (dsir.dsir_log_ratios — Xie et al.
    2023): add-0.5-smoothed log ratio between the target slice's
    (lang='fr') and the raw corpus's hashed uni+bigram distributions;
    two integer-exact count aggregates, dim driver-side literals (the
    Lloyd convention). Oracle recomputes both distributions and the
    exact ln expression order in SQL."""
    lr = _dsir_lr(spark, sf_dir)
    raw = spark.createDataFrame(
        list(enumerate(lr)), "bucket long, log_ratio double"
    )
    return raw.select("bucket", F.round("log_ratio", 6).alias("log_ratio"))


@q(
    "dsir_selection",
    f"""
    WITH {_DSIR_CTES},
    lrl AS (SELECT list(log_ratio ORDER BY bucket) AS l FROM lr),
    w AS (
      SELECT doc_id,
             {dsir.importance_fold_sql(f"({_DSIR_B})", "lrl.l")} AS weight
      FROM documents CROSS JOIN lrl
    ),
    keyed AS (
      SELECT doc_id, weight,
             {dsir.gumbel_key_sql('weight', 'doc_id')} AS key
      FROM w
    )
    SELECT doc_id, ROUND(weight, 6) AS weight, ROUND(key, 6) AS key
    FROM keyed ORDER BY key DESC, doc_id ASC LIMIT 100
    """,
)
def q_dsir_selection(spark, sf_dir):
    """X47: DSIR selection (dsir.dsir_importance + gumbel_topk) —
    map-side document-order fold of the log-ratio literals (zero
    shuffles, plan-gated in tests/test_dsir.py), then a deterministic
    hash-seeded Gumbel-top-100 without replacement proportional to
    exp(weight), planning as TakeOrderedAndProject. The selected SET,
    weights, and keys all oracle-pinned at 6 dp."""
    d = load(spark, sf_dir, "documents")
    scored = dsir.dsir_importance(d, _dsir_lr(spark, sf_dir))
    return dsir.gumbel_topk(scored, 100).select(
        "doc_id",
        F.round("weight", 6).alias("weight"),
        F.round("key", 6).alias("key"),
    )


# ===========================================================================
# X58: MERGE / upsert + SCD2 (operators/merge.py)
# ===========================================================================

@q(
    "merge_upsert_orders",
    """
    WITH t AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 3 <> 0
    ),
    u AS (
      SELECT o_orderkey, 'U' AS o_orderstatus,
             ROUND(o_totalprice * 1.1, 2) AS o_totalprice
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    merged AS (
      SELECT * FROM t WHERE o_orderkey NOT IN (SELECT o_orderkey FROM u)
      UNION ALL
      SELECT * FROM u
    ),
    final AS (
      SELECT * FROM merged WHERE o_orderkey NOT IN (
        SELECT o_orderkey FROM orders WHERE o_orderkey % 15 = 0
      )
    )
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM final GROUP BY o_orderstatus
    """,
)
def q_merge_upsert_orders(spark, sf_dir):
    """X58: relational MERGE semantics (merge_ops.merge_frames) — an
    older crawl's orders slice upserted with a re-fetch delta (WHEN
    MATCHED UPDATE SET * / NOT MATCHED INSERT *) and a delete key-set
    applied last (matched-delete precedence). Anti-join + unionByName:
    ONE shuffle, no full-outer coalescing; the file-pruned COW form
    over the manifest store (merge_into) is pytest-gated
    (tests/test_merge.py) because it is side-effectful. Reference:
    data_manager.py's whole-file update cycle, re-expressed so a 0.1%
    delta never pays a corpus rewrite."""
    o = load(spark, sf_dir, "orders")
    target = o.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    updates = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        F.round(F.col("o_totalprice") * 1.1, 2).alias("o_totalprice"),
    )
    deletes = o.filter(F.col("o_orderkey") % 15 == 0).select("o_orderkey")
    merged = merge_ops.merge_frames(target, updates, "o_orderkey", deletes)
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("total"),
    )


@q(
    "scd2_customer_history",
    """
    WITH cur AS (
      SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
    ),
    u AS (
      SELECT c_custkey, c_mktsegment,
             CASE WHEN c_custkey % 5 = 0 THEN ROUND(c_acctbal + 100.0, 2)
                  ELSE c_acctbal END AS c_acctbal
      FROM customer WHERE c_custkey % 5 = 0 OR c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey + 1000000, 'NEWSEG', 0.0
      FROM customer WHERE c_custkey % 100 = 0
    ),
    changed AS (
      SELECT u.c_custkey FROM u JOIN cur USING (c_custkey)
      WHERE u.c_acctbal IS DISTINCT FROM cur.c_acctbal
         OR u.c_mktsegment IS DISTINCT FROM cur.c_mktsegment
    ),
    hist AS (
      SELECT c_custkey, c_mktsegment, c_acctbal,
             0 AS valid_from, CAST(NULL AS INTEGER) AS valid_to,
             TRUE AS is_current
      FROM cur WHERE c_custkey NOT IN (SELECT c_custkey FROM changed)
      UNION ALL
      SELECT c_custkey, c_mktsegment, c_acctbal, 0, 1, FALSE
      FROM cur WHERE c_custkey IN (SELECT c_custkey FROM changed)
      UNION ALL
      SELECT u.c_custkey, u.c_mktsegment, u.c_acctbal, 1,
             CAST(NULL AS INTEGER), TRUE
      FROM u WHERE u.c_custkey IN (SELECT c_custkey FROM changed)
         OR u.c_custkey NOT IN (SELECT c_custkey FROM cur)
    )
    SELECT is_current, valid_from, COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal
    FROM hist GROUP BY is_current, valid_from
    """,
)
def q_scd2_customer_history(spark, sf_dir):
    """X58: SCD-type-2 history maintenance (merge_ops.scd2_init/
    scd2_apply) — epoch-1 re-observation of the customer dimension
    closes rows whose attributes moved (valid_to=1), opens their new
    versions plus never-seen keys, and passes unchanged rows through
    byte-identical (the %7-only slice is a planted no-op the oracle
    must agree on). Null-safe change detection; one full-outer join on
    the key + unions, no window. The oracle reconstructs the exact
    closed/kept/opened partition in SQL."""
    c = load(spark, sf_dir, "customer")
    hist0 = merge_ops.scd2_init(
        c.select("c_custkey", "c_mktsegment", "c_acctbal"), epoch=0
    )
    updates = (
        c.filter((F.col("c_custkey") % 5 == 0) | (F.col("c_custkey") % 7 == 0))
        .select(
            "c_custkey",
            "c_mktsegment",
            F.when(
                F.col("c_custkey") % 5 == 0,
                F.round(F.col("c_acctbal") + 100.0, 2),
            )
            .otherwise(F.col("c_acctbal"))
            .alias("c_acctbal"),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 100 == 0).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                F.lit("NEWSEG").alias("c_mktsegment"),
                F.lit(0.0).alias("c_acctbal"),
            )
        )
    )
    h1 = merge_ops.scd2_apply(
        hist0, updates, "c_custkey", ["c_mktsegment", "c_acctbal"], epoch=1
    )
    return h1.groupBy("is_current", "valid_from").agg(
        F.count("*").alias("n"),
        F.sum(F.col("c_acctbal").cast("decimal(18,4)"))
        .cast("double")
        .alias("bal"),
    )


# ===========================================================================
# X59: redirect-chain resolution (operators/graph.py)
# ===========================================================================

_REDIR_EDGES_SQL = """
      SELECT c_custkey AS src, c_custkey - 1 AS dst
      FROM customer WHERE c_custkey % 10 <> 0
      UNION ALL
      SELECT * FROM (VALUES
        (CAST(-1 AS BIGINT), CAST(-2 AS BIGINT)),
        (CAST(-2 AS BIGINT), CAST(-3 AS BIGINT)),
        (CAST(-3 AS BIGINT), CAST(-1 AS BIGINT))) AS v(src, dst)
"""

from webscrape_neko_jirushi_spark.operators.graph import (  # noqa: E402
    resolve_redirects,
    resolve_redirects_sql_ctes,
)


@q(
    "redirect_resolution",
    "WITH RECURSIVE "
    + resolve_redirects_sql_ctes(_REDIR_EDGES_SQL, max_hops=6)
    + """
    SELECT src, final, hops, status FROM redir
    """,
)
def q_redirect_resolution(spark, sf_dir):
    """X59: redirect-chain resolution (graph.resolve_redirects) —
    pointer DOUBLING over a functional redirect table: each round
    composes the src->2^r-hop mapping with itself (one self
    equi-join, localCheckpointed state), so a length-L chain resolves
    in ceil(log2 L) rounds, not L sequential joins. Planted shape:
    descending key chains of length (k mod 10) terminating at
    multiples of 10, a 3-node loop on synthetic negative ids, and a
    hop budget of 6 so lengths 7-9 exercise the truncation boundary —
    loops and over-long chains both land 'unresolved' with NULL
    final/hops (the only algorithm-independent answer). The oracle
    walks the same graph per-hop with a bounded recursive CTE; exact
    (final, hops) equality on every row is the doubling-correctness
    proof."""
    c = load(spark, sf_dir, "customer")
    chain = c.filter(F.col("c_custkey") % 10 != 0).select(
        F.col("c_custkey").alias("src"),
        (F.col("c_custkey") - 1).alias("dst"),
    )
    loops = spark.createDataFrame(
        [(-1, -2), (-2, -3), (-3, -1)], "src long, dst long"
    )
    return resolve_redirects(chain.unionByName(loops), max_hops=6)


# ===========================================================================
# X60: positional inverted index + phrase search (text/invindex.py)
# ===========================================================================

from webscrape_neko_jirushi_spark.text import invindex  # noqa: E402


@q(
    "inverted_term_stats",
    f"""
    WITH post AS ({invindex.POSTINGS_SQL}),
    ts AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS cf
      FROM post GROUP BY term
    )
    SELECT term, df, cf FROM ts ORDER BY cf DESC, term ASC LIMIT 50
    """,
)
def q_inverted_term_stats(spark, sf_dir):
    """X60: vocabulary statistics over the positional postings
    relation (invindex.postings + term_stats) — ONE posexplode of the
    repo tokenization (the honest cost of arbitrary-vocabulary
    indexing; X38's BM25 deliberately avoids it for literal query
    sets), then one hash aggregate with an exact count-distinct
    (two-phase Expand plan, skew-safe). Top-50 by collection
    frequency, term-tiebroken, as TakeOrderedAndProject."""
    d = load(spark, sf_dir, "documents")
    ts = invindex.term_stats(invindex.postings(d))
    return ts.orderBy(F.desc("cf"), F.asc("term")).limit(50)


@q(
    "phrase_search",
    f"""
    WITH post AS ({invindex.POSTINGS_SQL})
    SELECT doc_id, CAST(pos AS INTEGER) AS pos
    FROM ({invindex.phrase_match_sql(['slow', 'hash', 'batch'])})
    """,
)
def q_phrase_search(spark, sf_dir):
    """X60: exact-phrase search (invindex.phrase_match) — the phrase's
    term postings are filtered FIRST (literal isin, pushable to a
    persisted index's parquet scan), then k-1 positional equi-joins on
    (doc_id, pos+i); join inputs are term-sized, never corpus-sized.
    The persisted bucket-pruned form (build_inverted_index /
    phrase_match_indexed — O(phrase terms) manifest metadata per
    probe) is pytest-gated in tests/test_invindex.py because it is
    side-effectful; this row pins the join semantics row-exactly
    against the oracle's identical SQL twin."""
    d = load(spark, sf_dir, "documents")
    return invindex.phrase_match(
        invindex.postings(d), ["slow", "hash", "batch"]
    )


# ===========================================================================
# X61: windowed co-occurrence + PMI collocations (text/collocations.py)
# ===========================================================================

from webscrape_neko_jirushi_spark.text import collocations  # noqa: E402


@q(
    "pmi_collocations",
    f"""
    WITH post AS ({invindex.POSTINGS_SQL}),
    {collocations.pmi_sql_ctes(window=3, min_count=5)}
    SELECT term_a, term_b, cnt, ROUND(pmi, 6) AS pmi FROM pmi
    """,
)
def q_pmi_collocations(spark, sf_dir):
    """X61: PMI collocation scoring (collocations.pmi_collocations) —
    ordered within-window-3 pair counts in the LINEAR form (each
    posting explodes into 3 target positions, ONE equi-join on
    (doc_id, pos) — never the per-doc-quadratic distance filter),
    exact integer counts, N/W as a broadcast 1-row scalar aggregate,
    and the PMI double computed in the one expression order the
    oracle mirrors term-for-term (bit-identical before the 6 dp
    display rounding; pinned exactly in tests/test_collocations.py).
    min_count=5 cuts the hapax tail before the unigram joins."""
    d = load(spark, sf_dir, "documents")
    out = collocations.pmi_collocations(d, window=3, min_count=5)
    return out.select(
        "term_a", "term_b", "cnt", F.round("pmi", 6).alias("pmi")
    )


# ===========================================================================
# X62: sitemap source (sources/sitemap.py)
# ===========================================================================

from webscrape_neko_jirushi_spark.sources import sitemap as sitemap_src  # noqa: E402

_SITEMAP_PAGES_SQL = """
      SELECT CAST(c_nationkey AS VARCHAR) AS sitemap_url,
             '<urlset>' || string_agg(
               '<url><loc>https://n' || c_nationkey || '.example.com/c/'
                 || c_custkey || '</loc>'
               || CASE WHEN c_custkey % 3 = 0
                    THEN '<lastmod>2024-01-'
                      || lpad(CAST(c_custkey % 28 + 1 AS VARCHAR), 2, '0')
                      || '</lastmod>' ELSE '' END
               || CASE WHEN c_custkey % 4 = 0
                    THEN '<priority>0.' || c_custkey % 10 || '</priority>'
                    ELSE '' END
               || '</url>', '' ORDER BY c_custkey) || '</urlset>' AS xml
      FROM customer GROUP BY c_nationkey
"""


@q(
    "sitemap_roundtrip",
    f"""
    WITH pages AS ({_SITEMAP_PAGES_SQL}),
    entries AS ({sitemap_src.parse_urlset_sql("pages")})
    SELECT sitemap_url, COUNT(*) AS n_urls,
           COUNT(lastmod) AS n_lastmod,
           COUNT(priority) AS n_prio,
           CAST(SUM(CAST(COALESCE(priority, 0) AS DECIMAL(10,1))) AS DOUBLE)
             AS prio_sum
    FROM entries GROUP BY sitemap_url
    """,
)
def q_sitemap_roundtrip(spark, sf_dir):
    """X62: sitemap urlset parsing (sitemap_src.parse_urlset) as a
    synthesize->parse round trip: both engines build one urlset XML
    per nation from customer rows (order-pinned string_agg twin of
    array_join(array_sort(collect_list(struct)))), with lastmod/
    priority present only on planted key slices so the absent-field
    NULL paths execute, then parse with the SAME (?s) lazy-dotall
    block regexes verbatim (the X43/X46 Java/RE2 common-subset
    contract) and entity decoding. Priority sums go through
    DECIMAL(10,1) — exact at any aggregation order. The bounded
    sitemapindex expansion with cycle termination is pytest-gated
    (tests/test_sitemap.py, side-effect-free but multi-level)."""
    c = load(spark, sf_dir, "customer")
    piece = F.concat(
        F.lit("<url><loc>https://n"),
        F.col("c_nationkey").cast("string"),
        F.lit(".example.com/c/"),
        F.col("c_custkey").cast("string"),
        F.lit("</loc>"),
        F.when(
            F.col("c_custkey") % 3 == 0,
            F.concat(
                F.lit("<lastmod>2024-01-"),
                F.lpad((F.col("c_custkey") % 28 + 1).cast("string"), 2, "0"),
                F.lit("</lastmod>"),
            ),
        ).otherwise(""),
        F.when(
            F.col("c_custkey") % 4 == 0,
            F.concat(
                F.lit("<priority>0."),
                (F.col("c_custkey") % 10).cast("string"),
                F.lit("</priority>"),
            ),
        ).otherwise(""),
        F.lit("</url>"),
    )
    pages = (
        c.select(
            F.col("c_nationkey").cast("string").alias("sitemap_url"),
            F.struct(F.col("c_custkey"), piece.alias("piece")).alias("s"),
        )
        .groupBy("sitemap_url")
        .agg(
            F.concat(
                F.lit("<urlset>"),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list("s")), lambda x: x["piece"]
                    ),
                    "",
                ),
                F.lit("</urlset>"),
            ).alias("xml")
        )
    )
    entries = sitemap_src.parse_urlset(pages)
    return entries.groupBy("sitemap_url").agg(
        F.count("*").alias("n_urls"),
        F.count("lastmod").alias("n_lastmod"),
        F.count("priority").alias("n_prio"),
        F.sum(F.coalesce(F.col("priority"), F.lit(0.0)).cast("decimal(10,1)"))
        .cast("double")
        .alias("prio_sum"),
    )


# ===========================================================================
# X63: data-quality expectations (operators/expectations.py)
# ===========================================================================

from webscrape_neko_jirushi_spark.operators import expectations as dq  # noqa: E402


@q(
    "dq_expectations",
    r"""
    WITH m AS (
      SELECT
        CASE WHEN COUNT(*) > 0
             THEN CAST(COUNT(o_orderdate) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             ELSE 1.0 END AS m_comp,
        CASE WHEN COUNT(*) > 0
             THEN CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE)
             ELSE 1.0 END AS m_uniq,
        CAST(MIN(o_totalprice) AS DOUBLE) AS m_min,
        CAST(MAX(o_totalprice) AS DOUBLE) AS m_max,
        CASE WHEN COUNT(o_totalprice) > 0
             THEN CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
                  / CAST(COUNT(o_totalprice) AS DOUBLE)
             END AS m_mean,
        CASE WHEN COUNT(o_orderpriority) > 0
             THEN CAST(CAST(SUM(CASE WHEN regexp_matches(o_orderpriority,
                    '^[1-5]-[A-Z]+\z') THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
                  / CAST(COUNT(o_orderpriority) AS DOUBLE)
             ELSE 1.0 END AS m_match,
        CAST(COUNT(*) AS DOUBLE) AS m_rows
      FROM orders
    )
    SELECT 'completeness(o_orderdate)' AS check, m_comp AS metric,
           m_comp >= 1.0 AS passed FROM m
    UNION ALL SELECT 'uniqueness(o_orderkey)', m_uniq, m_uniq >= 1.0 FROM m
    UNION ALL SELECT 'min(o_totalprice)', m_min, m_min >= 0.0 FROM m
    UNION ALL SELECT 'max(o_totalprice)', m_max, m_max <= 1000000.0 FROM m
    UNION ALL SELECT 'mean(o_totalprice)', m_mean,
                     m_mean >= 1000.0 AND m_mean <= 500000.0 FROM m
    UNION ALL SELECT 'match_rate(o_orderpriority)', m_match,
                     m_match >= 1.0 FROM m
    UNION ALL SELECT 'row_count', m_rows, m_rows >= 1.0 FROM m
    """,
)
def q_dq_expectations(spark, sf_dir):
    """X63: declarative data-quality suite (expectations.check_suite —
    Deequ's single-pass metric computation, VLDB'18): seven
    constraints over orders evaluated in ONE aggregate pass (no
    per-rule jobs — plan-gated in tests/test_expectations.py), every
    metric a ratio/extremum of exact integer or decimal aggregates in
    one fixed IEEE expression order, so the oracle reproduces them
    bit-identically; `passed` is a plain threshold comparison. The
    drift monitor (baseline_compare) and publish gate (suite_passed)
    are pytest-gated."""
    o = load(spark, sf_dir, "orders")
    suite = [
        dq.completeness("o_orderdate", 1.0),
        dq.uniqueness("o_orderkey", 1.0),
        dq.min_value("o_totalprice", 0.0),
        dq.max_value("o_totalprice", 1000000.0),
        dq.mean_between("o_totalprice", 1000.0, 500000.0),
        dq.match_rate("o_orderpriority", r"^[1-5]-[A-Z]+\z", 1.0),
        dq.row_count_between(1),
    ]
    return dq.check_suite(o, suite)


# ===========================================================================
# X64: targeted salted skew join (operators/skewjoin.py)
# ===========================================================================

from webscrape_neko_jirushi_spark.operators.skewjoin import salted_join  # noqa: E402

_ETYPE_DIM = [
    ("click", 3), ("view", 1), ("purchase", 10), ("signup", 5), ("error", 0),
]


@q(
    "skew_salted_join",
    """
    WITH dim AS (
      SELECT * FROM (VALUES
        ('click', 3), ('view', 1), ('purchase', 10), ('signup', 5),
        ('error', 0)) AS v(event_type, weight)
    )
    SELECT e.event_type, COUNT(*) AS n,
           CAST(SUM(d.weight) AS BIGINT) AS wsum,
           CAST(SUM(CAST(e.value AS DECIMAL(28,6))) AS DOUBLE) AS vsum
    FROM events e LEFT JOIN dim d ON d.event_type = e.event_type
    GROUP BY e.event_type
    """,
)
def q_skew_salted_join(spark, sf_dir):
    """X64: targeted salted equi-join (skewjoin.salted_join) — the
    mitigation half of the X50 skew toolkit: hot probe keys split
    across 8 deterministic content-hash salts, ONLY the matching
    build rows replicated per salt (plan-gated: the join is on
    (key, _salt), no BNLJ), then joined and aggregated. The oracle is
    the PLAIN join + identical aggregate — result-multiset parity is
    the entire correctness claim of a performance rewrite, so the row
    can only hash-match if salting changed nothing."""
    e = load(spark, sf_dir, "events").select("event_type", "value")
    dim = spark.createDataFrame(_ETYPE_DIM, "event_type string, weight int")
    j = salted_join(e, dim, "event_type", 8, hot_keys=["click", "view"], how="left")
    return j.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("weight").cast("long").alias("wsum"),
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("vsum"),
    )


# ===========================================================================
# X65: incremental aggregate maintenance (operators/matview.py)
# ===========================================================================

from webscrape_neko_jirushi_spark.operators import matview as mv  # noqa: E402

_MV_SPEC = [
    ("n", "count", None),
    ("total", "sum", "o_totalprice"),
    ("lo", "min", "o_totalprice"),
    ("hi", "max", "o_totalprice"),
    ("mean", "avg", "o_totalprice"),
]


@q(
    "matview_incremental",
    """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
           MIN(o_totalprice) AS lo,
           MAX(o_totalprice) AS hi,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
             / CAST(COUNT(o_totalprice) AS DOUBLE) AS mean
    FROM orders GROUP BY o_orderstatus, o_orderpriority
    """,
)
def q_matview_incremental(spark, sf_dir):
    """X65: incremental materialized aggregates (matview.mv_refresh) —
    the fact table arrives as three disjoint mod-3 deltas; each folds
    into the state at delta cost (delta-sized aggregate + group-sized
    merge; the history is never re-read). The oracle is the FULL
    recompute over all orders: `incremental == full` is an EQUALITY
    claim because counts/mins/maxes are exact and sums ride
    DECIMAL(28,6) (merge order cannot perturb them); avg derives at
    read time as the one fixed sum/count expression. Merge
    order-invariance, new-group, all-NULL-group and schema-stability
    cases are pytest-gated."""
    o = load(spark, sf_dir, "orders")
    keys = ["o_orderstatus", "o_orderpriority"]
    state = None
    for i in range(3):
        delta = o.filter(F.col("o_orderkey") % 3 == i)
        state = mv.mv_refresh(state, delta, keys, _MV_SPEC)
    return mv.mv_read(state, keys, _MV_SPEC)


# ===========================================================================
# X66: bounded edit-distance fuzzy join (text/fuzzyjoin.py)
# ===========================================================================

from webscrape_neko_jirushi_spark.text import fuzzyjoin  # noqa: E402


@q(
    "fuzzy_name_pairs",
    fuzzyjoin.fuzzy_self_pairs_sql(
        "(SELECT c_custkey, c_name FROM customer WHERE c_custkey % 20 = 0)",
        "c_custkey",
        "c_name",
        1,
    ),
)
def q_fuzzy_name_pairs(spark, sf_dir):
    """X66: bounded edit-distance fuzzy self-join
    (fuzzyjoin.fuzzy_self_pairs, d=1) over a customer-name slice —
    pigeonhole-segment blocking (PassJoin's sound core: one of d+1
    even segments must appear exactly, shifted <= d) generates
    candidates with ONE equi-join on (segment idx, source length,
    segment text); exact JVM-side levenshtein verifies. This slice is
    the documented WORST blocking case (every name shares the
    'Customer#' prefix, so one segment bucket goes hot) and the row
    count still stays verify-bounded; the oracle runs the identical
    blocking + DuckDB's levenshtein (cross-engine agreement
    fuzz-pinned in tests/test_fuzzyjoin.py)."""
    c = load(spark, sf_dir, "customer")
    s = c.filter(F.col("c_custkey") % 20 == 0).select("c_custkey", "c_name")
    return fuzzyjoin.fuzzy_self_pairs(s, "c_custkey", "c_name", 1)


# ===========================================================================
# X67: bloom-prefiltered join (operators/bloomjoin.py)
# ===========================================================================

from webscrape_neko_jirushi_spark.operators.bloomjoin import (  # noqa: E402
    bloom_prefiltered_join,
)


@q(
    "bloom_join_lineitem",
    """
    WITH sel AS (
      SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 100 = 0
    )
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS rev
    FROM lineitem l JOIN sel ON sel.o_orderkey = l.l_orderkey
    GROUP BY o_orderstatus
    """,
)
def q_bloom_join_lineitem(spark, sf_dir):
    """X67: bloom-prefiltered join (bloomjoin.bloom_prefiltered_join)
    — lineitem (the large probe side) is cut map-side by a sharded
    bloom of the selective orders slice's keys BEFORE the join
    shuffle (the engine's own URL-seen BloomShards: distributed
    applyInPandas build, broadcast-cached Arrow probe); bloom FPs
    survive the prefilter and die in the exact join, so the result is
    bit-identical to the PLAIN join — which is exactly what the
    oracle runs. Inner/semi only (outer rejected loudly); filter
    reuse across joins pytest-gated."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    sel = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 == 0)
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus")
    )
    joined, _ = bloom_prefiltered_join(
        spark, li, sel, "l_orderkey", n_shards=4, expected_per_shard=100_000
    )
    return joined.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_extendedprice").cast("decimal(28,4)"))
        .cast("double")
        .alias("rev"),
    )


# ===========================================================================
# X68: equi-depth range layout (operators/layout.py)
# ===========================================================================

_ED_SEL, _ED_CTES = layout.equi_depth_bins_sql("n_chars", 8, sub_bits=10)


@q(
    "equi_depth_histogram",
    f"""
    WITH t AS (SELECT n_chars FROM documents),
    {_ED_CTES},
    binned AS ({_ED_SEL})
    SELECT _bin, COUNT(*) AS n,
           MIN(n_chars) AS lo, MAX(n_chars) AS hi
    FROM binned GROUP BY _bin
    """,
)
def q_equi_depth_histogram(spark, sf_dir):
    """X68: equi-depth binning (layout.equi_depth_bins) — split points
    from the X57 HDR sketch's k-quantiles instead of
    repartitionByRange's reservoir SAMPLING, so the layout is
    DETERMINISTIC across reruns, persistable, and mergeable as the
    table grows; bin assignment is a pure map-side fold over the
    <= k-1 sorted split literals (broadcast 1-row array, no driver
    collect). The persisted directory layout + manifest-pinned splits
    + pruned range_scan are pytest-gated (side-effectful); this row
    pins the sketch->quantile->bin arithmetic per-row against the
    identical SQL twin."""
    d = load(spark, sf_dir, "documents").select("n_chars")
    binned = layout.equi_depth_bins(d, "n_chars", 8, sub_bits=10)
    return binned.groupBy("_bin").agg(
        F.count("*").alias("n"),
        F.min("n_chars").alias("lo"),
        F.max("n_chars").alias("hi"),
    )


# ===========================================================================
# X70: deterministic per-group sample (text/curation.py)
# ===========================================================================

@q(
    "group_sample_docs",
    curation.group_sample_sql(
        "(SELECT source, doc_id FROM documents)",
        ["source"],
        5,
        "doc_id",
        cols="source, doc_id",
    ),
)
def q_group_sample_docs(spark, sf_dir):
    """X70: exact-k per-group reproducible sampling
    (curation.group_sample) — the per-source QA-slice primitive a
    rate-based stratified sample can't provide (tiny groups sample to
    zero, hot groups dominate): row_number over the portable hash of
    (salt, doc_id) within each source, keep rank <= 5; the hash
    pins the SAMPLE SET itself across runs, partitionings, and
    engines (twin = the same md5 arithmetic under ROW_NUMBER —
    per-row rank equality is the check)."""
    d = load(spark, sf_dir, "documents").select("source", "doc_id")
    return curation.group_sample(d, ["source"], 5, "doc_id")


# ===========================================================================
# X71: adaptive per-host politeness (crawl/politeness.py AIMD)
# ===========================================================================

from webscrape_neko_jirushi_spark.crawl.politeness import (  # noqa: E402
    adaptive_host_delays,
    adaptive_host_delays_sql,
)

_AIMD_BUDGET_SQL = """
      SELECT 'h' || CAST(user_id % 50 AS VARCHAR) AS host,
             10 AS max_per_epoch,
             CAST(500 + (user_id % 50) * 33 AS BIGINT) AS min_delay_ms
      FROM events GROUP BY user_id % 50
"""
_AIMD_LOG_SQL = """
      SELECT 'h' || CAST(user_id % 50 AS VARCHAR) AS host,
             CASE event_type WHEN 'error' THEN 500
                             WHEN 'purchase' THEN 429
                             ELSE 200 END AS status_code,
             CAST(NULL AS VARCHAR) AS error
      FROM events
"""


@q(
    "adaptive_politeness_delays",
    f"""
    WITH b AS ({_AIMD_BUDGET_SQL}), l AS ({_AIMD_LOG_SQL})
    {adaptive_host_delays_sql("b", "l", backoff_num=3, backoff_den=2)}
    """,
)
def q_adaptive_politeness_delays(spark, sf_dir):
    """X71: AIMD per-host delay controller
    (politeness.adaptive_host_delays) — the feedback loop the
    reference's fixed 5s sleep can't express: hosts whose last-epoch
    error share (5xx/429/transport) exceeds 10% back off
    multiplicatively (3/2, integer `div` — floor-division on BOTH
    engines; double-division-then-cast would diverge, Spark
    truncates where DuckDB rounds), clean hosts probe down
    additively to the polite floor, mixed/no-traffic hosts hold.
    ALL-INTEGER arithmetic (error share as 1000*n_err > thr*n) ⇒
    bit-identical controller on any engine/partitioning. Budget and
    log synthesized identically on both sides from events."""
    e = load(spark, sf_dir, "events")
    budget = (
        e.groupBy((F.col("user_id") % 50).alias("_h"))
        .agg(F.count("*").alias("_drop"))
        .select(
            F.concat(F.lit("h"), F.col("_h").cast("string")).alias("host"),
            F.lit(10).alias("max_per_epoch"),
            (500 + F.col("_h") * 33).cast("long").alias("min_delay_ms"),
        )
    )
    log = e.select(
        F.concat(F.lit("h"), (F.col("user_id") % 50).cast("string")).alias("host"),
        F.when(F.col("event_type") == "error", 500)
        .when(F.col("event_type") == "purchase", 429)
        .otherwise(200)
        .alias("status_code"),
        F.lit(None).cast("string").alias("error"),
    )
    return adaptive_host_delays(budget, log, backoff_num=3, backoff_den=2)


# ===========================================================================
# X72: CDX capture-index source (sources/cdx.py)
# ===========================================================================

from webscrape_neko_jirushi_spark.sources import cdx as cdx_src  # noqa: E402

# Deterministic CDX-11 lines synthesized from documents in BOTH
# engines: every doc gets one capture; every 3rd a second (later)
# capture whose digest changes only for every 6th (the rest are
# WARC revisits); every 97th also emits a malformed line to
# exercise the validity guard. URL spelling is deliberately dirty
# (uppercase, www, :443, fragment) so latest_captures groups on the
# SURT key, not the raw string.
_CDX_LINES_SQL = """(
  SELECT concat_ws(' ', '-',
      printf('%014d', 20200000000000 + (doc_id * 37) % 86400),
      'HTTPS://WWW.' || source || '.Example:443/Item/'
        || CAST(doc_id AS VARCHAR)
        || CASE WHEN doc_id % 5 = 0 THEN '#Frag' ELSE '' END,
      CASE doc_id % 4 WHEN 0 THEN 'text/html' WHEN 1 THEN 'image/jpeg'
                      WHEN 2 THEN 'application/pdf' ELSE '-' END,
      CASE WHEN doc_id % 7 = 0 THEN '404' ELSE '200' END,
      substr(md5(text), 1, 12), '-', '-',
      CAST(n_chars AS VARCHAR), CAST(doc_id * 1000 + 17 AS VARCHAR),
      'crawl-' || CAST(doc_id % 3 AS VARCHAR) || '.warc.gz') AS line
  FROM documents
  UNION ALL
  SELECT concat_ws(' ', '-',
      printf('%014d', 20200000000000 + 86400 + (doc_id * 53) % 86400),
      'HTTPS://WWW.' || source || '.Example:443/Item/'
        || CAST(doc_id AS VARCHAR)
        || CASE WHEN doc_id % 5 = 0 THEN '#Frag' ELSE '' END,
      CASE doc_id % 4 WHEN 0 THEN 'text/html' WHEN 1 THEN 'image/jpeg'
                      WHEN 2 THEN 'application/pdf' ELSE '-' END,
      '200',
      CASE WHEN doc_id % 6 = 0 THEN substr(md5('v2' || text), 1, 12)
           ELSE substr(md5(text), 1, 12) END, '-', '-',
      CAST(n_chars AS VARCHAR), CAST(doc_id * 1000 + 555 AS VARCHAR),
      'crawl-' || CAST(doc_id % 3 AS VARCHAR) || '.warc.gz') AS line
  FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT 'garbage ' || CAST(doc_id AS VARCHAR) AS line
  FROM documents WHERE doc_id % 97 = 0
)"""

_CDX_CAPS_SQL = (
    f"(SELECT * REPLACE ({cdx_src.surt_key_sql('url')} AS urlkey)"
    f" FROM ({cdx_src.parse_cdx_sql(_CDX_LINES_SQL)}) p WHERE valid)"
)


def _cdx_lines(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTPS://WWW."),
        F.col("source"),
        F.lit(".Example:443/Item/"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("#Frag")).otherwise(F.lit("")),
    )
    mime = (
        F.when(F.col("doc_id") % 4 == 0, F.lit("text/html"))
        .when(F.col("doc_id") % 4 == 1, F.lit("image/jpeg"))
        .when(F.col("doc_id") % 4 == 2, F.lit("application/pdf"))
        .otherwise(F.lit("-"))
    )
    fname = F.concat(
        F.lit("crawl-"), (F.col("doc_id") % 3).cast("string"), F.lit(".warc.gz")
    )
    c0 = d.select(
        F.concat_ws(
            " ",
            F.lit("-"),
            F.format_string(
                "%014d", F.lit(20200000000000) + (F.col("doc_id") * 37) % 86400
            ),
            url,
            mime,
            F.when(F.col("doc_id") % 7 == 0, F.lit("404")).otherwise(F.lit("200")),
            F.substring(F.md5(F.col("text").cast("binary")), 1, 12),
            F.lit("-"),
            F.lit("-"),
            F.col("n_chars").cast("string"),
            (F.col("doc_id") * 1000 + 17).cast("string"),
            fname,
        ).alias("line")
    )
    c1 = d.filter(F.col("doc_id") % 3 == 0).select(
        F.concat_ws(
            " ",
            F.lit("-"),
            F.format_string(
                "%014d",
                F.lit(20200000000000 + 86400) + (F.col("doc_id") * 53) % 86400,
            ),
            url,
            mime,
            F.lit("200"),
            F.when(
                F.col("doc_id") % 6 == 0,
                F.substring(
                    F.md5(F.concat(F.lit("v2"), F.col("text")).cast("binary")), 1, 12
                ),
            ).otherwise(F.substring(F.md5(F.col("text").cast("binary")), 1, 12)),
            F.lit("-"),
            F.lit("-"),
            F.col("n_chars").cast("string"),
            (F.col("doc_id") * 1000 + 555).cast("string"),
            fname,
        ).alias("line")
    )
    junk = d.filter(F.col("doc_id") % 97 == 0).select(
        F.concat(F.lit("garbage "), F.col("doc_id").cast("string")).alias("line")
    )
    return c0.unionAll(c1).unionAll(junk)


def _cdx_captures(spark, sf_dir):
    parsed = cdx_src.parse_cdx(_cdx_lines(spark, sf_dir))
    return parsed.filter("valid").withColumn(
        "urlkey", cdx_src.surt_key(F.col("url"))
    )


@q("cdx_latest_captures", cdx_src.latest_captures_sql(_CDX_CAPS_SQL))
def q_cdx_latest_captures(spark, sf_dir):
    """X72: CDX-11 capture-index parse + SURT canonicalization +
    latest-capture-per-urlkey (sources/cdx.py) — the Common-Crawl-
    index analog of the reference's output-directory walk
    (data_manager.py): dirty URL spellings collapse onto one SURT
    key, the winner is selected INSIDE one hash aggregate
    (max(struct(ts, offset, filename, payload...)) — no window over
    the revisit-hot urlkey), and malformed lines are guarded out by
    the parse validity flag. Twin = same regex strings + ROW_NUMBER."""
    return cdx_src.latest_captures(_cdx_captures(spark, sf_dir))


@q("cdx_revisit_report", cdx_src.revisit_report_sql(_CDX_CAPS_SQL))
def q_cdx_revisit_report(spark, sf_dir):
    """X72: capture-index revisit economics (sources/cdx.py) — one
    multi-count-distinct aggregate (Expand, skew-safe) over the
    parsed captures: how many captures re-stored an already-seen
    digest (the bytes a deduplicating WARC store saves). Planted
    rate: every 3rd doc has a second capture, digest changed only
    for every 6th -> revisit_ratio pinned by construction."""
    return cdx_src.revisit_report(_cdx_captures(spark, sf_dir))


# ===========================================================================
# X73: leakage-safe split (text/splits.py)
# ===========================================================================

from webscrape_neko_jirushi_spark.text import splits as splits_mod  # noqa: E402

_SPLIT_FRACS = {"train": 0.8, "val": 0.1, "test": 0.1}

# Duplicate families from exact text dedup (X1): cluster label =
# min(doc_id) of each md5-identical group with >1 member.
_SPLIT_CLUSTERS_SQL = """(
  SELECT d.doc_id, m.cluster_id
  FROM documents d
  JOIN (SELECT md5(text) AS k, MIN(doc_id) AS cluster_id, COUNT(*) AS c
        FROM documents GROUP BY md5(text)) m ON md5(d.text) = m.k
  WHERE m.c > 1
)"""

_SPLIT_ASSIGN_SQL = splits_mod.leakage_safe_split_sql(
    "(SELECT doc_id, source, n_chars FROM documents)",
    _SPLIT_FRACS,
    clusters_expr=_SPLIT_CLUSTERS_SQL,
    cols="d.doc_id, d.source, d.n_chars",
)


def _split_assign(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    k = F.md5(F.col("text").cast("binary"))
    groups = (
        d.select(k.alias("k"), "doc_id")
        .groupBy("k")
        .agg(F.min("doc_id").alias("cluster_id"), F.count("*").alias("c"))
        .filter("c > 1")
    )
    clusters = (
        d.select("doc_id", k.alias("k"))
        .join(groups, "k")
        .select("doc_id", "cluster_id")
    )
    return splits_mod.leakage_safe_split(
        d.select("doc_id", "source", "n_chars"),
        _SPLIT_FRACS,
        clusters=clusters,
    )


@q("leakage_safe_split_assign", _SPLIT_ASSIGN_SQL)
def q_leakage_safe_split_assign(spark, sf_dir):
    """X73: leakage-safe train/val/test assignment
    (splits.leakage_safe_split) — the eval-contamination guard the
    reference's single training pool never needs: the split key is
    the hash of the DUPLICATE GROUP (exact-dup families from X1's
    md5 grouping), so a near-dup family moves into one split as a
    unit; band boundaries are integer literals shared verbatim with
    the twin, assignment is a map-side CASE after one broadcastable
    label join — no corpus shuffle, no RNG, partitioning-independent."""
    return _split_assign(spark, sf_dir)


@q(
    "leakage_split_report",
    splits_mod.split_report_sql(f"({_SPLIT_ASSIGN_SQL})", token_col="n_chars"),
)
def q_leakage_split_report(spark, sf_dir):
    """X73: split acceptance report (splits.split_report) — per-split
    doc/group/token tallies plus the leakage audit as data:
    leaked_groups counts groups spanning more than one split,
    structurally 0 for the hash assignment (and the oracle recomputes
    the same audit from scratch)."""
    return splits_mod.split_report(
        _split_assign(spark, sf_dir), token_col="n_chars"
    )


# ===========================================================================
# X74: winnowing fingerprints (text/winnowing.py)
# ===========================================================================

from webscrape_neko_jirushi_spark.text import winnowing as winnow_mod  # noqa: E402

_WINNOW_DOCS_SQL = "(SELECT doc_id, text FROM documents)"
_WINNOW_FPS_SQL = winnow_mod.winnow_fingerprints_sql(_WINNOW_DOCS_SQL, k=8, w=4)


@q("winnow_fingerprints_docs", _WINNOW_FPS_SQL)
def q_winnow_fingerprints_docs(spark, sf_dir):
    """X74: winnowing fingerprints (winnowing.winnow_fingerprints;
    MOSS, SIGMOD'03) — the POSITIONAL near-dup signature minhash
    can't give: rightmost-minimal k-gram hash of every w-window,
    selected by ONE window-min over a packed 60-bit (hash, flipped
    pos) int64 (struct-min in a moving frame is not engine-portable;
    integer `div` decode — `/`+cast double-rounds above 2^53). One
    shuffle, no Python; twin = the same pack/min/decode arithmetic.
    Fanned on the window key (r6): the per-character gram explode and
    its md5 hashing otherwise run on the single-row-group scan task,
    and the repartition doubles as the window's own shuffle."""
    d = fan_out(
        load(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id",
        splits=scan_splits(spark, f"{sf_dir}/documents.parquet"),
    )
    return winnow_mod.winnow_fingerprints(d, k=8, w=4)


@q(
    "winnow_overlap_pairs",
    winnow_mod.fingerprint_overlap_sql(
        f"({_WINNOW_FPS_SQL})", min_shared=3, max_bucket=64
    ),
)
def q_winnow_overlap_pairs(spark, sf_dir):
    """X74: fingerprint-overlap candidate pairs
    (winnowing.fingerprint_overlap) — equi-join on fingerprint hash
    over per-doc DISTINCT hashes with a max_bucket=64 star cap on
    ubiquitous hashes (boilerplate phrases; the X3 recall trade,
    visible in the data: at sf0.1 the cap prunes the vocab-shared
    grams and pair count DROPS vs sf0.01), then one count aggregate;
    shared >= 3 survives. Cost = sum(bucket^2), never corpus^2.
    Fanned on the window key (r6) — see winnow_fingerprints_docs."""
    d = fan_out(
        load(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id",
        splits=scan_splits(spark, f"{sf_dir}/documents.parquet"),
    )
    fps = winnow_mod.winnow_fingerprints(d, k=8, w=4)
    return winnow_mod.fingerprint_overlap(fps, min_shared=3, max_bucket=64)


# ===========================================================================
# X75: exact heavy hitters via Misra-Gries (operators/heavyhitters.py)
# ===========================================================================

from webscrape_neko_jirushi_spark.operators import heavyhitters as hh_mod  # noqa: E402


@q("heavy_hitters_users", hh_mod.heavy_hitters_sql("events", "user_id", m=10))
def q_heavy_hitters_users(spark, sf_dir):
    """X75: exact top-10 users by event count via the Misra-Gries
    candidate pass (heavyhitters.heavy_hitters_exact) — per-partition
    k=4096 bounded summaries (batch-wise value_counts merge, the
    mergeable-summaries reduce), tiny sketch-row shuffle, broadcast
    exact-verify, plan-embedded certification (m-th count > total
    decrement D, else raise_error). The full-cardinality groupBy the
    sketch avoids at 10^9-key scale IS the DuckDB oracle; tie-break
    (cnt DESC, user_id ASC) is total so the certified set is
    deterministic."""
    return hh_mod.heavy_hitters_exact(
        load(spark, sf_dir, "events"), "user_id", m=10, k=4096
    )


# ===========================================================================
# X76: bottom-k source-overlap sketches (text/overlap.py)
# ===========================================================================

from webscrape_neko_jirushi_spark.text import overlap as ov_mod  # noqa: E402

_OV_K = 128
_OV_SRC_H_SQL = f"({ov_mod.source_shingle_hashes_sql('documents', k_shingle=5)})"
_OV_SIGS_SQL = f"({ov_mod.bottomk_signatures_sql(_OV_SRC_H_SQL, k=_OV_K)})"


@q(
    "source_overlap_sketch",
    ov_mod.source_overlap_bottomk_sql(_OV_SIGS_SQL, k=_OV_K),
)
def q_source_overlap_sketch(spark, sf_dir):
    """X76: pairwise source-overlap estimates from bottom-k (KMV)
    shingle sketches (overlap.source_overlap_bottomk) — the mixture-
    design primitive: k=128 smallest portable shingle hashes per
    source (EXACT lossless map-side prune bounds the ranking shuffle
    at k x tasks x sources rows, never the corpus's distinct-shingle
    count), then per pair the k' = min(k, |union|) union-minima and
    |both| / k'. Deterministic sketch (k-minimum-VALUES, not a
    sample), so the DuckDB twin matches cell-for-cell. Round-robin
    fan-out (r6): the shingle explode + md5 hashing otherwise runs on
    the single-row-group scan task; source has only 3 values, so no
    key qualifies."""
    d = fan_out(
        load(spark, sf_dir, "documents").select("source", "text"),
        splits=scan_splits(spark, f"{sf_dir}/documents.parquet"),
    )
    sh = ov_mod.source_shingle_hashes(d, k_shingle=5)
    return ov_mod.source_overlap_bottomk(
        ov_mod.bottomk_signatures(sh, k=_OV_K), k=_OV_K
    )


@q(
    "source_overlap_exact",
    f"""
    SELECT i.source_a, i.source_b,
           CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) AS jaccard
    FROM (
      SELECT a.source AS source_a, b.source AS source_b,
             COUNT(*) AS n_inter
      FROM {_OV_SRC_H_SQL} a JOIN {_OV_SRC_H_SQL} b USING (h)
      WHERE a.source < b.source
      GROUP BY a.source, b.source
    ) i
    JOIN (SELECT source, COUNT(*) AS n FROM {_OV_SRC_H_SQL} GROUP BY source) sa
      ON sa.source = i.source_a
    JOIN (SELECT source, COUNT(*) AS n FROM {_OV_SRC_H_SQL} GROUP BY source) sb
      ON sb.source = i.source_b
    """,
)
def q_source_overlap_exact(spark, sf_dir):
    """X76: exact pairwise source Jaccard over the full distinct
    shingle-hash sets (overlap.source_overlap_exact) — the estimator's
    ground truth and the small-corpus path: equi-join on h (never
    all-pairs of shingles), |A u B| by inclusion-exclusion from
    broadcast per-source sizes. Pairs with zero intersection don't
    appear (no join row) — same on both sides. Round-robin fan-out
    (r6) — see source_overlap_sketch."""
    d = fan_out(
        load(spark, sf_dir, "documents").select("source", "text"),
        splits=scan_splits(spark, f"{sf_dir}/documents.parquet"),
    )
    return ov_mod.source_overlap_exact(
        ov_mod.source_shingle_hashes(d, k_shingle=5)
    )


# ===========================================================================
# X77: rendezvous (HRW) consistent assignment (crawl/assign.py)
# ===========================================================================

from webscrape_neko_jirushi_spark.crawl import assign as rz_mod  # noqa: E402

_RZ_WORKERS = [f"fetcher-{i}" for i in range(8)]


@q(
    "rendezvous_assignment",
    f"""
    SELECT {rz_mod.rendezvous_assign_sql('user_id', _RZ_WORKERS)},
           COUNT(*) AS n_keys
    FROM (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL) k
    GROUP BY worker
    """,
)
def q_rendezvous_assignment(spark, sf_dir):
    """X77: rendezvous/HRW owner per crawl key (assign.
    rendezvous_assign) — the coordination-free host->fetcher map:
    argmax over 8 workers of the 50-bit portable hash of key|worker,
    packed score*W+i and resolved by ONE greatest(...) projection
    (zero shuffle, zero Python, whole-stage codegen); removing a
    worker provably reassigns only its own keys (pytest-gated), which
    is what keeps per-host politeness state alive across fleet
    changes. Query = per-worker key counts over the distinct user_id
    keyspace; the twin runs the identical packed-argmax arithmetic."""
    keys = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id")
        .distinct()
    )
    return (
        rz_mod.rendezvous_assign(keys, "user_id", _RZ_WORKERS)
        .groupBy("worker")
        .agg(F.count("*").alias("n_keys"))
    )


# ===========================================================================
# X78: interleaved-doc caption mining (operators/interleave.py)
# ===========================================================================

from webscrape_neko_jirushi_spark.operators import interleave as il_mod  # noqa: E402

# interleaved-span analog of the input_hint shape, built from lineitem
# in lockstep (kind by l_linenumber % 3, text/media payloads from the
# line's keys — deterministic on both engines)
# offset = dense per-doc ordinal over the UNIQUE (l_linenumber,
# l_partkey, l_suppkey) order — the testdata has duplicate
# (orderkey, linenumber) rows, and the span contract (enforced by a
# loud guard in the operator) requires one span per position
_IL_FLAT_SQL = """(
  SELECT l_orderkey AS doc_id,
         CASE WHEN l_linenumber % 3 = 0 THEN 'image' ELSE 'text' END AS kind,
         CASE WHEN l_linenumber % 3 <> 0
              THEN 'item ' || CAST(l_partkey AS VARCHAR) || ' ' || l_returnflag
         END AS text,
         CASE WHEN l_linenumber % 3 = 0
              THEN 'img://' || CAST(l_partkey AS VARCHAR)
         END AS media_ref,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY l_orderkey
           ORDER BY l_linenumber, l_partkey, l_suppkey
         ) AS INTEGER) AS "offset"
  FROM lineitem)"""


def _interleaved_docs(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    is_img = F.col("l_linenumber") % 3 == 0
    flat = li.select(
        F.col("l_orderkey").alias("doc_id"),
        F.when(is_img, F.lit("image")).otherwise(F.lit("text")).alias("kind"),
        F.when(
            ~is_img,
            F.concat(
                F.lit("item "),
                F.col("l_partkey").cast("string"),
                F.lit(" "),
                F.col("l_returnflag"),
            ),
        ).alias("text"),
        F.when(
            is_img, F.concat(F.lit("img://"), F.col("l_partkey").cast("string"))
        ).alias("media_ref"),
        F.row_number()
        .over(
            Window.partitionBy("l_orderkey").orderBy(
                "l_linenumber", "l_partkey", "l_suppkey"
            )
        )
        .cast("int")
        .alias("offset"),
    )
    # array order is irrelevant (the miner orders by offset in-window)
    return flat.groupBy("doc_id").agg(
        F.collect_list(
            F.struct("kind", "text", "media_ref", "offset")
        ).alias("spans")
    )


@q("interleaved_captions", il_mod.mine_captions_sql(_IL_FLAT_SQL, max_gap=2))
def q_interleaved_captions(spark, sf_dir):
    """X78: image-caption pair mining over interleaved span documents
    (interleave.mine_captions) — the OBELICS/Flamingo-style
    construction on the input_hint's exact shape: nearest text span
    per media span via FOUR scalar window exprs over ONE (doc_id,
    offset) window (no structs in frames — the X74 portability rule),
    closer side wins, ties -> before, gap <= 2. One explode, one
    window shuffle, zero Python; the twin runs identical IGNORE
    NULLS frames."""
    return il_mod.mine_captions(_interleaved_docs(spark, sf_dir), max_gap=2)


@q(
    "interleave_profile",
    il_mod.interleave_stats_sql(_IL_FLAT_SQL, max_gap=2),
)
def q_interleave_profile(spark, sf_dir):
    """X78: per-doc interleaving structure profile
    (interleave.interleave_stats) — span counts by kind, kind-
    transition count (lag over the same window spec), and
    n_captioned = media spans with a text neighbor within gap 2.
    The corpus-QA face: 'interleaved' mixtures that profile as
    alt-text scraping are caught here before training."""
    return il_mod.interleave_stats(_interleaved_docs(spark, sf_dir), max_gap=2)


# ===========================================================================
# X80: media-reuse chrome detection (operators/interleave.py)
# ===========================================================================


@q(
    "media_reuse_report",
    il_mod.media_reuse_report_sql(_IL_FLAT_SQL, min_docs=30),
)
def q_media_reuse_report(spark, sf_dir):
    """X80: media_ref reuse breadth (interleave.media_reuse_report) —
    the multimodal analog of X40 boilerplate detection: a ref
    embedded in >= 30 DISTINCT docs is site chrome (logos, nav
    icons), exactly what a caption miner must not pair. One explode +
    one (count, countDistinct) aggregate; breadth is distinct DOCS,
    not occurrences (a ref twice in one doc is not breadth)."""
    return il_mod.media_reuse_report(
        _interleaved_docs(spark, sf_dir), min_docs=30
    )


@q(
    "media_chrome_strip_stats",
    il_mod.strip_chrome_stats_sql(_IL_FLAT_SQL, min_docs=30),
)
def q_media_chrome_strip_stats(spark, sf_dir):
    """X80: per-doc media counts before/after stripping chrome refs
    (interleave.strip_chrome_stats) — the chrome set stays DATA
    (broadcast anti-join on media_ref, the X40 strip shape), never a
    driver-side collect; all-chrome docs land at 0, visible for the
    admission gate."""
    return il_mod.strip_chrome_stats(
        _interleaved_docs(spark, sf_dir), min_docs=30
    )


# ===========================================================================
# X81: interleaved (text AND media) near-dup pairs (operators/interleave.py)
# ===========================================================================

# 1-in-20 doc subset: the Spark side is banded (never n^2) at any
# size, but the ORACLE's text leg is deliberately brute-force (it
# checks answers, it doesn't scale) — the subset keeps its a<b join
# feasible at sf0.1 while still covering ~7.4k interleaved docs
_IL_SUB_SQL = f"(SELECT * FROM {_IL_FLAT_SQL} f WHERE doc_id % 20 = 0)"


@q(
    "interleaved_near_dups",
    il_mod.interleaved_near_dups_sql(
        _IL_SUB_SQL, _SIMHASH_SQL, max_hamming=6, min_media_jaccard=0.5
    ),
)
def q_interleaved_near_dups(spark, sf_dir):
    """X81: near-dup pairs of interleaved documents requiring BOTH
    modalities to agree (interleave.interleaved_near_dups) — text
    simhash hamming <= 6 over the offset-ordered text view (X5
    pigeonhole banding, no cartesian product) AND media-ref Jaccard
    >= 0.5 verified candidate-DRIVEN on the text pairs (the X4
    discipline). Text-only matching merges template pages with
    different images; media-only merges galleries with different
    prose; the intersection is the conservative interleaved dedup.
    Twin = brute-force text leg over the same fuzz-gated simhash
    fragment + identical media arithmetic."""
    docs = _interleaved_docs(spark, sf_dir).filter(
        F.col("doc_id") % 20 == 0
    )
    # wide=False pinned: the twin replays the 60-bit signature, and
    # pinning also skips the auto-gate's count probe (no construction
    # job in a driver query)
    return il_mod.interleaved_near_dups(
        docs, max_hamming=6, min_media_jaccard=0.5, wide=False
    )


# ===========================================================================
# X82: cross-split shared-asset leakage audit (text/splits.py)
# ===========================================================================

_MSL_ASSIGN_SQL = splits_mod.leakage_safe_split_sql(
    f"(SELECT DISTINCT doc_id FROM {_IL_FLAT_SQL} f)",
    _SPLIT_FRACS,
    cols="d.doc_id",
)
_MSL_ASSETS_SQL = (
    f"(SELECT DISTINCT doc_id, media_ref FROM {_IL_FLAT_SQL} f "
    f"WHERE kind = 'image' AND media_ref IS NOT NULL)"
)


@q(
    "media_split_leakage",
    splits_mod.split_asset_leakage_sql(
        f"({_MSL_ASSIGN_SQL})", _MSL_ASSETS_SQL
    ),
)
def q_media_split_leakage(spark, sf_dir):
    """X82: media refs straddling the train/eval boundary
    (splits.split_asset_leakage over the X73 assignment) — the
    contamination a group-atomic TEXT split cannot see: the same
    image re-hosted inside differently-worded pages lands its host
    docs in different text groups, and the asset leaks into eval.
    One doc-id equi-join + one aggregate counting distinct DOCS per
    side (the X80 breadth rule); only leaking refs return, so an
    empty result is the audit passing."""
    docs = _interleaved_docs(spark, sf_dir)
    assign = splits_mod.leakage_safe_split(
        docs.select("doc_id"), _SPLIT_FRACS
    )
    media = (
        docs.select("doc_id", F.explode("spans").alias("s"))
        .filter((F.col("s.kind") == "image") & F.col("s.media_ref").isNotNull())
        .select("doc_id", F.col("s.media_ref").alias("media_ref"))
        .distinct()
    )
    return splits_mod.split_asset_leakage(assign, media)


# ===========================================================================
# X83: corpus datasheet (composition: stats + HDR + dedup + winner-agg)
# ===========================================================================

_DS_QS = [0.5, 0.9]


@q(
    "corpus_datasheet",
    f"""
    SELECT b.n_docs, b.total_chars, b.n_langs, b.n_sources,
           1.0 - b.n_distinct_texts * 1.0 / b.n_docs AS dup_rate,
           tl.top_lang,
           q.p50_chars, q.p90_chars
    FROM (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
             CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts
      FROM documents
    ) b
    CROSS JOIN (
      SELECT lang AS top_lang FROM (
        SELECT lang, COUNT(*) AS c FROM documents
        WHERE lang IS NOT NULL GROUP BY lang
      ) lc ORDER BY c DESC, lang ASC LIMIT 1
    ) tl
    CROSS JOIN (
      SELECT MAX(CASE WHEN q = 0.5 THEN estimate END) AS p50_chars,
             MAX(CASE WHEN q = 0.9 THEN estimate END) AS p90_chars
      FROM (
        WITH t AS (SELECT n_chars AS v FROM documents)
        {hdr.hdr_quantiles_sql(hdr.hdr_build_sql('v', 8), _DS_QS)}
      ) hq
    ) q
    """,
)
def q_corpus_datasheet(spark, sf_dir):
    """X83: the one-row corpus datasheet — the composition showcase:
    base tallies + exact-dup rate (1 - distinct md5 / n) in ONE
    aggregate pass, majority language by the winner-in-aggregate
    pattern (ties to the lexicographically smallest), p50/p90 length
    from the X57 HDR sketch pivoted to columns, all stitched by
    broadcast 1-row cross joins. Every ingredient is an existing
    twin-gated primitive; the datasheet is what a mixture owner reads
    before admitting the corpus."""
    d = load(spark, sf_dir, "documents")
    base = d.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct(F.md5(F.col("text").cast("binary"))).alias(
            "n_distinct_texts"
        ),
    )
    top = (
        d.filter(F.col("lang").isNotNull())
        .groupBy("lang")
        .agg(F.count("*").alias("c"))
        .agg(
            F.min(F.struct((-F.col("c")).alias("nc"), F.col("lang"))).alias(
                "w"
            )
        )
        .select(F.col("w.lang").alias("top_lang"))
    )
    sketch = hdr.hdr_build(d.select(F.col("n_chars").alias("v")), "v", 8)
    qrows = hdr.hdr_quantiles(sketch, _DS_QS)
    quant = qrows.agg(
        F.max(F.when(F.col("q") == 0.5, F.col("estimate"))).alias(
            "p50_chars"
        ),
        F.max(F.when(F.col("q") == 0.9, F.col("estimate"))).alias(
            "p90_chars"
        ),
    )
    return (
        base.join(F.broadcast(top))
        .join(F.broadcast(quant))
        .select(
            "n_docs",
            "total_chars",
            "n_langs",
            "n_sources",
            (
                F.lit(1.0)
                - F.col("n_distinct_texts") / F.col("n_docs")
            ).alias("dup_rate"),
            "top_lang",
            "p50_chars",
            "p90_chars",
        )
    )


# ===========================================================================
# X84: ANN recall as a query (operators/similarity.py::topk_recall)
# ===========================================================================


@q(
    "ann_recall_at_10",
    similarity.topk_recall_sql(
        _cosine_topk_sql(include_query=True), _ORACLES["ann_topk_lsh"]
    ),
)
def q_ann_recall_at_10(spark, sf_dir):
    """X84: recall@10 of the LSH ANN probe against the brute-force
    exact top-10 (similarity.topk_recall) — the index quality metric
    AS A QUERY, so parameter sweeps (bits, multiprobe radius) are
    measured by the engine itself: (k, n_overlap, recall) from an
    inner join of two k-row tables (sketch-sized end to end). The
    exact leg is SELF-INCLUSIVE (vec_id 0 kept) to match the ANN leg,
    which always scores its own query point — an exact leg that
    excludes it caps recall at 0.9 structurally and a perfect index
    could never read 1.0. The oracle composes the two legs' oracle
    SQL, so this row is only green if the exact leg, the ANN leg, and
    the metric all agree with DuckDB simultaneously."""
    exact = _cosine_topk_df(spark, sf_dir, include_query=True)
    approx = _QUERIES["ann_topk_lsh"](spark, sf_dir)
    return similarity.topk_recall(exact, approx)


# ===========================================================================
# X85: embedding-column health report (operators/expectations.py)
# ===========================================================================

@q(
    "embedding_quality_report",
    dq.embedding_quality_report_sql("embeddings", dim=64),
)
def q_embedding_quality_report(spark, sf_dir):
    """X85: one-row vector-column health report
    (expectations.embedding_quality_report, dim pinned to 64) — the
    checks the generic X63 suite can't phrase because they quantify
    INSIDE the array: NULL / wrong-dim / null-element / NaN-or-Inf /
    zero-vector counts plus min/max norm over the valid vectors
    (defects excluded from the norm scan, not poisoning it). A NaN
    survives every aggregate it touches and a zero vector turns
    cosine into 0/0, so this gate runs BEFORE any similarity op. One
    aggregate pass, order-free reductions, norms rounded 6 dp at the
    boundary."""
    return dq.embedding_quality_report(
        load(spark, sf_dir, "embeddings"), dim=64
    )


# ===========================================================================
# X79: snapshot distribution drift (operators/drift.py)
# ===========================================================================

from webscrape_neko_jirushi_spark.operators import drift as drift_mod  # noqa: E402

# "new snapshot" = the corpus under a simple retention filter — the
# refresh whose shape change the report is gating on
_DRIFT_NEW_SQL = "(SELECT * FROM documents WHERE n_chars BETWEEN 200 AND 2000)"


@q(
    "drift_lang_report",
    drift_mod.category_drift_sql("documents", _DRIFT_NEW_SQL, "lang"),
)
def q_drift_lang_report(spark, sf_dir):
    """X79: per-language drift rows between the raw corpus and its
    length-filtered refresh (drift.category_drift) — one union-tag
    scan, one groupBy(bucket) with two conditional counts, a
    broadcast 1-row totals join (the X61 closed-form-normalizer
    pattern); per-bucket chi2 terms are one engine-exact division per
    ROW. NULL langs are a real bucket."""
    docs = load(spark, sf_dir, "documents")
    new = docs.filter(F.col("n_chars").between(200, 2000))
    return drift_mod.category_drift(docs, new, F.col("lang"))


@q(
    "drift_length_summary",
    drift_mod.drift_summary_sql(
        "documents", _DRIFT_NEW_SQL, "CAST(n_chars // 200 AS BIGINT)"
    ),
)
def q_drift_length_summary(spark, sf_dir):
    """X79: one-row TVD + L-inf drift of the length profile
    (drift.drift_summary, buckets = floor(n_chars/200)) — the summary
    reduces over INTEGER cross products in decimal(38,0) (PSI/KL
    need ln(), and libm transcendentals are not bit-identical across
    engines; TVD and L-inf are, because sum/max of integers admit no
    float-ordering ambiguity). Safe to gate a pipeline on equality."""
    docs = load(spark, sf_dir, "documents")
    new = docs.filter(F.col("n_chars").between(200, 2000))
    bucket = F.floor(F.col("n_chars") / 200).cast("long")
    return drift_mod.drift_summary(docs, new, bucket)


# ===========================================================================
# X88: margin-ranked multi-probe LSH (operators/similarity.py)
# ===========================================================================

_MP_BITS, _MP_PROBES = 12, 12


@q(
    "ann_topk_multiprobe",
    f"""
    WITH planes(p, dim, w) AS (VALUES {_ann_planes_values(bits=_MP_BITS)}),
    emb AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    proj AS (
      SELECT m.vec_id, pl.p, SUM(m.e[pl.dim] * pl.w) AS s
      FROM emb m CROSS JOIN planes pl GROUP BY m.vec_id, pl.p
    ),
    buckets AS (
      SELECT vec_id,
        CAST(SUM(CASE WHEN ROUND(s, 9) >= 0 THEN (1 << p) ELSE 0 END) AS BIGINT) AS bucket
      FROM proj GROUP BY vec_id
    ),
    qproj AS (SELECT p, ROUND(s, 9) AS s9 FROM proj WHERE vec_id = 0),
    qb AS (
      SELECT CAST(SUM(CASE WHEN s9 >= 0 THEN (1 << p) ELSE 0 END) AS BIGINT) AS bucket
      FROM qproj
    ),
    pool AS (SELECT p, s9 * s9 AS c FROM qproj ORDER BY abs(s9), p LIMIT 16),
    flips AS (
      SELECT CAST(1 << p AS BIGINT) AS mask, c AS score FROM pool
      UNION ALL SELECT CAST((1 << a.p) | (1 << b.p) AS BIGINT), a.c + b.c
        FROM pool a JOIN pool b ON a.p < b.p
      UNION ALL SELECT CAST((1 << a.p) | (1 << b.p) | (1 << c3.p) AS BIGINT),
                       (a.c + b.c) + c3.c
        FROM pool a JOIN pool b ON a.p < b.p JOIN pool c3 ON b.p < c3.p
    ),
    -- home bucket pinned first (a 0.0-margin flip ties its score and
    -- must not displace it); flips rank by (score, bucket)
    ranked_flips AS (
      SELECT xor(f.mask, qb.bucket) AS bucket
      FROM flips f, qb ORDER BY f.score, xor(f.mask, qb.bucket)
      LIMIT {_MP_PROBES - 1}
    ),
    probes AS (
      SELECT bucket FROM qb UNION ALL SELECT bucket FROM ranked_flips
    ),
    cand AS (
      SELECT b.vec_id FROM buckets b JOIN probes pr ON b.bucket = pr.bucket
    ),
    qv AS (SELECT e FROM emb WHERE vec_id = 0)
    SELECT m.vec_id,
      ROUND(
        list_aggregate(list_transform(range(1, 65), i -> m.e[i] * q.e[i]), 'sum')
        / (sqrt(list_aggregate(list_transform(range(1, 65), i -> m.e[i] * m.e[i]), 'sum'))
         * sqrt(list_aggregate(list_transform(range(1, 65), i -> q.e[i] * q.e[i]), 'sum'))), 6) AS cosine
    FROM cand c JOIN emb m ON m.vec_id = c.vec_id, qv q
    ORDER BY cosine DESC, m.vec_id
    LIMIT 10
    """,
)
def q_ann_topk_multiprobe(spark, sf_dir):
    """X88: ANN top-10 by margin-ranked multi-probe LSH
    (similarity.multiprobe_sequence via ann_topk_lsh(n_probes=12),
    Lv et al. VLDB'07 adapted to hyperplane LSH): instead of the
    C(bits, h) Hamming ball, probe exactly 12 buckets — the home
    bucket plus the cheapest flip sets, cost = squared query margin
    per flipped plane (near-zero margin = neighbors straddle that
    plane). Probe count is FIXED regardless of bits, which is what
    lets the persisted-index path stay O(probed partitions) at 24+
    bits where a radius-2 ball is 300 buckets. The oracle replays the
    ranking bit-for-bit: same HALF_UP-9 projections, same
    (|margin|, plane) pool order, same increasing-index IEEE sum,
    same (score, bucket) tie-break."""
    e = load(spark, sf_dir, "embeddings")
    qrow = e.filter(F.col("vec_id") == 0).select("embedding").head()
    query = [float(x) for x in qrow["embedding"]]
    return similarity.ann_topk_lsh(
        e, query, k=10, bits=_MP_BITS, seed=7, n_probes=_MP_PROBES
    )


@q(
    "multiprobe_recall_at_10",
    None,  # composed below once both leg oracles exist
)
def q_multiprobe_recall_at_10(spark, sf_dir):
    """X88+X84: recall@10 of the 12-probe margin-ranked sequence at
    12 bits vs brute force — the index-quality metric for the scale
    probe path, composed from the two legs' own oracles like
    ann_recall_at_10. At 12 bits the home bucket holds ~n/4096
    vectors, so this row measures exactly what the ranked flips
    recover. Exact leg self-inclusive, like ann_recall_at_10."""
    exact = _cosine_topk_df(spark, sf_dir, include_query=True)
    approx = _QUERIES["ann_topk_multiprobe"](spark, sf_dir)
    return similarity.topk_recall(exact, approx)


_ORACLES["multiprobe_recall_at_10"] = similarity.topk_recall_sql(
    _cosine_topk_sql(include_query=True), _ORACLES["ann_topk_multiprobe"]
)


# ===========================================================================
# X87: interleaved-doc linearization (operators/interleave.py)
# ===========================================================================


@q(
    "interleaved_linearize",
    il_mod.linearize_sql(
        _IL_FLAT_SQL + " fx",
        "(SELECT DISTINCT l_orderkey AS doc_id FROM lineitem) sp",
        budget=8,
    ),
)
def q_interleaved_linearize(spark, sf_dir):
    """X87: render interleaved span docs into ONE training-ready
    token stream each (interleave.linearize_docs) — the MMC4/OBELICS
    preprocessing step: offset-ordered spans, text spans as trimmed
    text, media spans as the <|image|> sentinel, an 8-token budget
    truncating at span boundaries (never mid-span, sentinels atomic).
    The whole operator is array HOFs inside the row — ZERO added
    shuffle, scan-bound at 10^10 docs; the only exchange in this
    query's plan is the analog's own groupBy that builds the spans
    arrays. Twin = window-cumsum formulation, equal by cost
    monotonicity."""
    return il_mod.linearize_docs(_interleaved_docs(spark, sf_dir), budget=8)


# ===========================================================================
# X87+X42 composition: interleaved corpus -> packed training sequences
# ===========================================================================


@q(
    "training_export_e2e",
    packing.pack_sequences_sql(
        128,
        relation="("
        + il_mod.linearize_sql(
            _IL_FLAT_SQL + " fx",
            "(SELECT DISTINCT l_orderkey AS doc_id FROM lineitem) sp",
            budget=16,
        )
        + ") lx",
    ),
)
def q_training_export_e2e(spark, sf_dir):
    """X87+X42: the interleaved corpus rendered and packed for
    training in ONE Catalyst plan — linearize_docs (16-token budget,
    media sentinels) feeding pack_sequences (128-token sequences,
    concat-then-chunk in hash order). The stage contract that makes
    the composition exact: a rendered stream's whitespace token count
    equals linearize's own n_tokens (media_cost=1 = one sentinel
    token, empty text spans add zero either way), so the packer can
    re-count from text and both engines agree fragment-for-fragment.
    The oracle nests the two stages' own twins verbatim."""
    lin = il_mod.linearize_docs(
        _interleaved_docs(spark, sf_dir), budget=16
    ).select("doc_id", "text")
    return packing.pack_sequences(lin, 128, buckets=0)


# ===========================================================================
# X86: URL-parameter significance mining (crawl/urlparams.py)
# ===========================================================================

from webscrape_neko_jirushi_spark.crawl import urlparams as up_mod  # noqa: E402

# fetch-log analog from lineitem: page+sort drive the content digest,
# sess is session noise, v is a constant — so the learner must emit
# significant/significant/content_neutral/insufficient_evidence
_FETCHLOG_SQL = """(
  SELECT 'https://cat.example/list?sess=' || CAST(l_partkey % 7 AS VARCHAR)
         || '&page=' || CAST(l_orderkey % 50 AS VARCHAR)
         || '&sort=' || CAST(l_suppkey % 3 AS VARCHAR) || '&v=1' AS url,
         md5('c|' || CAST(l_orderkey % 50 AS VARCHAR)
             || '|' || CAST(l_suppkey % 3 AS VARCHAR)) AS digest
  FROM lineitem) fl"""


def _fetchlog_analog(spark, sf_dir):
    # fanned (r6): the url/digest string construction and the
    # groupBy(url) partial aggregate otherwise run on the
    # single-row-group scan task
    li = fan_out(
        load(spark, sf_dir, "lineitem"),
        "l_orderkey",
        splits=scan_splits(spark, f"{sf_dir}/lineitem.parquet"),
    )
    page = (F.col("l_orderkey") % 50).cast("string")
    srt = (F.col("l_suppkey") % 3).cast("string")
    sess = (F.col("l_partkey") % 7).cast("string")
    return li.select(
        F.concat(
            F.lit("https://cat.example/list?sess="), sess,
            F.lit("&page="), page,
            F.lit("&sort="), srt,
            F.lit("&v=1"),
        ).alias("url"),
        F.md5(F.concat(F.lit("c|"), page, F.lit("|"), srt)).alias("digest"),
    )


@q("url_param_significance", up_mod.param_significance_sql(_FETCHLOG_SQL))
def q_url_param_significance(spark, sf_dir):
    """X86: per-param content-significance verdicts learned from the
    fetch log (urlparams.param_significance) — Googlebot-style "URL
    parameters" inference: explode k=v pairs (builtin split/array ops,
    zero Python), group by (param, residual-URL-minus-this-pair),
    count distinct values vs distinct content digests, verdict by the
    probe-group law. min(digest) per URL so an unstable page never
    votes twice. Shuffles on wide well-spread keys; in-plan
    raise_error guards reject list-params and un-encoded '=' values
    rather than mis-classifying them."""
    return up_mod.param_significance(_fetchlog_analog(spark, sf_dir))


@q("url_param_strip_savings", up_mod.param_strip_savings_sql(_FETCHLOG_SQL))
def q_url_param_strip_savings(spark, sf_dir):
    """X86: the frontier-reduction payoff row — strip the learned
    content-neutral params (broadcast of the tiny verdict table) and
    count distinct canonical forms before/after
    (urlparams.param_strip_savings). before counts sorted-param
    canonicals so param-order variants can't inflate the claim; on
    this analog stripping sess collapses 1050 canonical URLs to 150
    (n_saved = 900 duplicate fetches avoided per frontier pass)."""
    return up_mod.param_strip_savings(_fetchlog_analog(spark, sf_dir))


# ===========================================================================
# X89: frontier health + fairness (crawl/health.py)
# ===========================================================================

from webscrape_neko_jirushi_spark.crawl import health as health_mod  # noqa: E402

# frontier analog from events: host = user bucket, ts = discovery time
_FRONTIER_SQL = (
    "(SELECT 'h' || CAST(user_id % 50 AS VARCHAR) AS host, ts FROM events) fr"
)


def _frontier_analog(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return ev.select(
        F.concat(F.lit("h"), (F.col("user_id") % 50).cast("string")).alias(
            "host"
        ),
        "ts",
    )


@q(
    "frontier_health_hosts",
    health_mod.frontier_health_sql(_FRONTIER_SQL, budget=200, starve_epochs=5),
)
def q_frontier_health_hosts(spark, sf_dir):
    """X89: per-host frontier starvation audit
    (health.frontier_health) — queue depth, oldest queued age
    (integer microsecond diffs floor-divided to seconds, baselined on
    the frontier's OWN max ts via a broadcast 1-row join), exact
    ceil-division epochs-to-drain at the 200-fetch politeness budget,
    and the starved flag. The report a crawl operator pages on: a
    10^6-deep host at budget 100 is 10^4 epochs of dead URLs that no
    aggregate throughput number shows."""
    return health_mod.frontier_health(
        _frontier_analog(spark, sf_dir), budget=200, starve_epochs=5
    )


@q("frontier_fairness", health_mod.frontier_fairness_sql(_FRONTIER_SQL))
def q_frontier_fairness(spark, sf_dir):
    """X89: one-row pending-work skew report
    (health.frontier_fairness) — EXACT Gini over per-host queue
    depths: rank via the bucketed two-phase global_sequence (no
    single-partition window; tied depths are rank-sum invariant, so
    no tie-break contract is needed), Σ rank·depth in DECIMAL(38,0),
    num/den emitted as exact integers beside the 6-dp ratio. Gini is
    the salting decision's direct input: ~0 = hash partitioning fine,
    high = hot hosts need salt shards before they serialize an
    epoch."""
    return health_mod.frontier_fairness(_frontier_analog(spark, sf_dir))


# ===========================================================================
# X90: paginated-document stitching (text/stitching.py)
# ===========================================================================

from webscrape_neko_jirushi_spark.text import stitching as st_mod  # noqa: E402

# paginated-article analog from orders: 500 chains, pages in o_orderkey
# order, nav-crumb repeated across the page break on 2/3 of chains (the
# other third has no shared text — the zero-overlap branch), built with
# identical arithmetic on both engines
_PAGES_SQL = """(
  WITH pg_sp AS (
    SELECT o_orderkey % 500 AS bmod,
           o_orderkey AS ok,
           o_orderstatus AS st,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY o_orderkey % 500 ORDER BY o_orderkey
           ) AS INTEGER) AS page
    FROM orders)
  SELECT 'https://cat.example/article/' || CAST(bmod AS VARCHAR) AS base,
         page,
         CASE WHEN page > 1 AND bmod % 3 <> 0
              THEN 'nav-' || CAST(bmod AS VARCHAR) || '-'
                   || CAST(page - 1 AS VARCHAR) || ' '
              ELSE '' END
         || 'body ' || CAST(ok AS VARCHAR) || ' ' || st
         || CASE WHEN bmod % 3 <> 0
              THEN ' nav-' || CAST(bmod AS VARCHAR) || '-'
                   || CAST(page AS VARCHAR)
              ELSE '' END AS text
  FROM pg_sp) pg"""


def _pages_analog(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    sp = o.select(
        (F.col("o_orderkey") % 500).alias("bmod"),
        F.col("o_orderkey").alias("ok"),
        F.col("o_orderstatus").alias("st"),
    )
    sp = sp.select(
        "bmod",
        "ok",
        "st",
        F.row_number()
        .over(Window.partitionBy("bmod").orderBy("ok"))
        .cast("int")
        .alias("page"),
    )
    base0 = F.col("bmod").cast("string")
    crumby = F.col("bmod") % 3 != 0
    text = F.concat(
        F.when(
            (F.col("page") > 1) & crumby,
            F.concat(
                F.lit("nav-"),
                base0,
                F.lit("-"),
                (F.col("page") - 1).cast("string"),
                F.lit(" "),
            ),
        ).otherwise(F.lit("")),
        F.lit("body "),
        F.col("ok").cast("string"),
        F.lit(" "),
        F.col("st"),
        F.when(
            crumby,
            F.concat(
                F.lit(" nav-"), base0, F.lit("-"), F.col("page").cast("string")
            ),
        ).otherwise(F.lit("")),
    )
    return sp.select(
        F.concat(F.lit("https://cat.example/article/"), base0).alias("base"),
        F.col("page"),
        text.alias("text"),
    )


@q("page_overlap_profile", st_mod.page_overlaps_sql(_PAGES_SQL))
def q_page_overlap_profile(spark, sf_dir):
    """X90: per-page suffix/prefix overlap diagnosis
    (stitching.page_overlaps) — largest k <= 64 with
    right(prev,k) = left(cur,k) via ONE lag window over (base ORDER BY
    page) + an in-row sequence->filter->array_max HOF (zero Python,
    O(k^2) chars per page, scan-bound). The QA face of stitching: a
    pagination chain whose overlaps are all 0 was probably split on a
    non-pagination param (X86 feeds the base key). Duplicate
    (base, page) pairs raise in-plan — lag would be engine-dependent."""
    return st_mod.page_overlaps(_pages_analog(spark, sf_dir))


@q("stitched_documents", st_mod.stitch_pages_sql(_PAGES_SQL))
def q_stitched_documents(spark, sf_dir):
    """X90: paginated-document reassembly (stitching.stitch_pages) —
    page 1 + each successor minus its nav-crumb overlap prefix,
    concatenated in page order (array_sort over (page, frag) structs);
    the groupBy(base) reuses the overlap window's hash distribution so
    the whole operator is ONE exchange at any corpus size.
    trimmed_chars is the near-dup mass removed before dedup ever sees
    it; the stitched doc restores the long-document signal that
    page-fragment corpora lose (reference walks listing pages
    page-by-page, comprehensive_scraper.py pagination loop, but never
    reassembles)."""
    return st_mod.stitch_pages(_pages_analog(spark, sf_dir))


# ===========================================================================
# X91: takedown / RTBF enforcement (operators/takedown.py)
# ===========================================================================

from webscrape_neko_jirushi_spark.operators import takedown as td_mod  # noqa: E402

# corpus analog: the interleaved docs with a deterministic URL per doc
# (host = doc_id mod 7 — both engines build the identical string)
_TD_DOCS_SQL = """(
  SELECT doc_id,
         'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example/doc/'
           || CAST(doc_id AS VARCHAR) AS url
  FROM (SELECT DISTINCT l_orderkey AS doc_id FROM lineitem) dd) td"""

# flat media spans for the media-kind counts (the X78 span analog)
_TD_SPANS_SQL = (
    f"(SELECT doc_id, media_ref FROM {_IL_FLAT_SQL} f"
    " WHERE media_ref IS NOT NULL)"
)

# request analog from nation (25 rows): kind by mod-4, keys hitting
# hosts/prefixes/media that exist plus exact-URL keys that mostly
# don't — the no_match rows are part of what the audit must report
_TD_REQS_SQL = """(
  SELECT n_nationkey AS request_id,
         CASE n_nationkey % 4 WHEN 0 THEN 'url' WHEN 1 THEN 'host'
              WHEN 2 THEN 'prefix' ELSE 'media' END AS kind,
         CASE n_nationkey % 4
           WHEN 0 THEN 'https://h'
                || CAST((n_nationkey * 4 + 1) % 7 AS VARCHAR)
                || '.example/doc/' || CAST(n_nationkey * 4 + 1 AS VARCHAR)
           WHEN 1 THEN 'h' || CAST(n_nationkey % 3 AS VARCHAR) || '.example'
           WHEN 2 THEN 'https://h' || CAST(n_nationkey % 7 AS VARCHAR)
                || '.example/doc/' || CAST(n_nationkey % 10 AS VARCHAR)
           ELSE 'img://' || CAST(n_nationkey * 50 AS VARCHAR)
         END AS key
  FROM nation) tr"""


def _takedown_docs(spark, sf_dir):
    return _interleaved_docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("https://h"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        "spans",
    )


def _takedown_reqs(spark, sf_dir):
    n = load(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    host = (k % 7).cast("string")
    kind = (
        F.when(k % 4 == 0, F.lit("url"))
        .when(k % 4 == 1, F.lit("host"))
        .when(k % 4 == 2, F.lit("prefix"))
        .otherwise(F.lit("media"))
    )
    key = (
        F.when(
            k % 4 == 0,
            F.concat(
                F.lit("https://h"),
                ((k * 4 + 1) % 7).cast("string"),
                F.lit(".example/doc/"),
                (k * 4 + 1).cast("string"),
            ),
        )
        .when(
            k % 4 == 1,
            F.concat(F.lit("h"), (k % 3).cast("string"), F.lit(".example")),
        )
        .when(
            k % 4 == 2,
            F.concat(
                F.lit("https://h"),
                host,
                F.lit(".example/doc/"),
                (k % 10).cast("string"),
            ),
        )
        .otherwise(F.concat(F.lit("img://"), (k * 50).cast("string")))
    )
    return n.select(
        k.alias("request_id"), kind.alias("kind"), key.alias("key")
    )


@q(
    "takedown_audit",
    td_mod.takedown_audit_sql(_TD_DOCS_SQL, _TD_REQS_SQL, _TD_SPANS_SQL),
)
def q_takedown_audit(spark, sf_dir):
    """X91: per-request takedown/RTBF enforcement report
    (takedown.takedown_audit) — url/host/prefix/media kinds matched by
    broadcast equi-joins (prefix = key-host equi-join + startswith
    residual, NEVER a nested-loop LIKE over the corpus), distinct-doc
    and stripped-span counts, status enforced/no_match (a no_match row
    is itself actionable). Unknown kinds raise in-plan — a misspelled
    kind is a silently un-enforced legal demand. Host extraction is
    ONE regex literal replayed verbatim by the twin."""
    return td_mod.takedown_audit(
        _takedown_docs(spark, sf_dir), _takedown_reqs(spark, sf_dir)
    )


@q(
    "takedown_survivors",
    td_mod.survivor_hosts_sql(_TD_DOCS_SQL, _TD_REQS_SQL),
)
def q_takedown_survivors(spark, sf_dir):
    """X91: the surviving corpus per host after enforcement
    (takedown.enforce_takedowns) — ONE broadcast anti-join on the
    distinct matched doc set removes every doc-level match; the same
    call filters a frontier before fetch (enforcement is also
    prevention: RTBF content must not be re-collected next crawl).
    Hosts h0-h2 lose everything to host-kind requests here, so the
    report is also the over-enforcement check."""
    surv = td_mod.enforce_takedowns(
        _takedown_docs(spark, sf_dir), _takedown_reqs(spark, sf_dir)
    )
    return surv.groupBy(
        F.regexp_extract("url", td_mod.HOST_RE, 1).alias("host")
    ).agg(F.count("*").cast("long").alias("n_docs"))


# ===========================================================================
# X92: embedding-space eval decontamination (operators/decontam.py)
# ===========================================================================

from webscrape_neko_jirushi_spark.operators import decontam as dc_mod  # noqa: E402

_DC_TRAIN_SQL = """(
  SELECT vec_id AS doc_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
  FROM embeddings)"""

# eval analog: positively-scaled copies (the paraphrase stand-in —
# cosine 1.0, MUST be flagged) + reversed vectors (direction broken —
# the clean population); both constructions are engine-identical
_DC_EVALS_SQL = """(
  SELECT vec_id + 1000000 AS eval_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE) * 3.0) AS embedding
  FROM embeddings WHERE vec_id % 97 = 0
  UNION ALL
  SELECT vec_id + 2000000 AS eval_id,
         list_reverse(list_transform(embedding, x -> CAST(x AS DOUBLE)))
           AS embedding
  FROM embeddings WHERE vec_id % 89 = 0)"""


def _dc_train(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    return e.select(
        F.col("vec_id").alias("doc_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )


def _dc_evals(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    scaled = e.filter(F.col("vec_id") % 97 == 0).select(
        (F.col("vec_id") + 1000000).alias("eval_id"),
        F.transform("embedding", lambda x: x.cast("double") * 3.0).alias(
            "embedding"
        ),
    )
    rev = e.filter(F.col("vec_id") % 89 == 0).select(
        (F.col("vec_id") + 2000000).alias("eval_id"),
        F.reverse(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("embedding"),
    )
    return scaled.unionByName(rev)


@q(
    "semantic_decontamination",
    dc_mod.contamination_report_sql(
        _DC_TRAIN_SQL,
        _DC_EVALS_SQL,
        dim=64,
        tau=0.98,
        n_bands=_EMB_LSH_BANDS,
        bits_per_band=_EMB_LSH_BITS,
    ),
)
def q_semantic_decontamination(spark, sf_dir):
    """X92: embedding-space eval decontamination audit
    (decontam.semantic_contamination_report) — the paraphrase-leakage
    check the X42 n-gram decontaminator can't see: both sides banded
    with the SAME md5 hyperplanes (4x8 bits — size by lsh_bits_for on
    the TRAIN corpus), banded EVAL side broadcast, candidates from a
    map-side (band, bucket) equi-join (the 10^10-doc train side never
    shuffles), exact cosine >= 0.98 verify on candidates only.
    Per-eval rows: planted scaled copies flag at max_cosine 1.0,
    reversed vectors report clean with NULL max_cosine ('no candidate
    survived' and 'best scored 0' are different facts)."""
    return dc_mod.semantic_contamination_report(
        _dc_train(spark, sf_dir),
        _dc_evals(spark, sf_dir),
        dim=64,
        tau=0.98,
        n_bands=_EMB_LSH_BANDS,
        bits_per_band=_EMB_LSH_BITS,
    )


# ===========================================================================
# entry + registry
# ===========================================================================

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the advanced-cleaning cascade + keep-first dedup +
    per-group report over sf0.001 — the reference's main downstream
    pipeline (clean -> dedup -> report) in one Catalyst plan."""
    sf_dir = "/root/testdata/sf0.001"
    imgs = images_analog(load(spark, sf_dir, "lineitem"))
    cascaded = cleaning.advanced_cascade(imgs)
    survivors = dedup.exact_dedup(
        cascaded.filter(F.col("keep")), "md5", ["doc_id", "image_idx", "src_key"]
    )
    return cleaning.before_after_by_group(
        cascaded.join(
            survivors.select("doc_id", "image_idx").withColumn("survived", F.lit(True)),
            ["doc_id", "image_idx"],
            "left",
        ).withColumn("keep", F.col("keep") & F.coalesce(F.col("survived"), F.lit(False))),
        "doc_id",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)
