"""Distributed linear quality classifier — the fastText-shaped half of
the CCNet/GPT-3 curation recipe (Wenzek et al. 2019 §4; Brown et al.
2020 App. A): train a logistic model "does this document look like the
reference corpus?" and admit/weight documents by its score. The
reference has no ML beyond pretrained YOLO; first-class per the build
brief, completing the quality stack (rules in ``analysis``/
``repetition``, LM perplexity in ``lm``, learned classifier here).

Model: logistic regression over hashing-trick bag-of-words features —
``bucket = portable_hash64(token) % dim``, value = term frequency
(count / doc tokens) — trained by full-batch gradient descent from a
zero init (deterministic: no RNG anywhere).

Scale shape — the training STATE is ``dim + 1`` doubles (driver-side,
entering plans as literals, the ``ivf_train_centroids`` convention);
the DATA never leaves the cluster:

- featurization is ONE explode + ONE ``groupBy(id, bucket)`` count,
  with the label and per-doc token count carried on the feature rows
  (no per-round label join), localCheckpointed ONCE;
- each round is two hash aggregates over the feature rows: margins =
  ``groupBy(id).sum(x * w[bucket])`` (w a broadcast literal array —
  map-side lookup, no join), then gradient = ``groupBy(bucket).sum(x *
  (sigmoid(margin) - y))`` after a co-keyed features-x-margins join on
  ``id``; ``dim + 1`` scalars come back to the driver per round (the
  Lloyd pattern);
- per-round cost is O(feature rows), linear in the corpus; rounds are
  a constant.

Determinism: zero init makes round 1 closed-form (p = 0.5 exactly);
all arithmetic is IEEE double in the same operation order as the
unrolled DuckDB twin (``logreg_sql_ctes``), so weights compare at 6
decimals after any fixed round count (partial-aggregation sum order
contributes ~1e-16 relative, absorbed by the rounding).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash64, portable_hash64_sql
from .lm import word_tokens


def hashed_features(
    documents: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str | None = None,
) -> DataFrame:
    """Sparse hashed bag-of-words: one row per (doc, bucket) with
    ``x = token count / doc tokens`` (term frequency — scale-free, so
    long docs don't dominate the gradient). ``label_col`` (a 0/1
    numeric column) is carried through as ``y`` so training never
    joins labels per round. Token-less docs have no feature rows (and
    no gradient contribution)."""
    if dim < 1:
        raise ValueError(f"hashed_features: dim must be >= 1, got {dim}")
    toks = word_tokens(F.col(text_col))
    carry = [F.col(label_col).cast("double").alias("y")] if label_col else []
    exploded = (
        documents.filter(F.size(toks) > 0)
        .select(
            F.col(id_col),
            *carry,
            F.size(toks).cast("double").alias("nt"),
            F.explode(toks).alias("tok"),
        )
        .select(
            id_col,
            *(["y"] if label_col else []),
            "nt",
            (portable_hash64(F.col("tok")) % dim).alias("bucket"),
        )
    )
    keys = [id_col] + (["y"] if label_col else []) + ["nt"]
    return (
        exploded.groupBy(*keys, "bucket")
        .agg(F.count("*").cast("double").alias("cnt"))
        .select(*keys, "bucket", (F.col("cnt") / F.col("nt")).alias("x"))
        .drop("nt")
    )


def _margins(features: DataFrame, w: list[float], b: float, id_col: str):
    warr = F.array(*[F.lit(float(v)) for v in w])
    return features.groupBy(id_col, "y").agg(
        (
            F.sum(F.col("x") * F.element_at(warr, F.col("bucket").cast("int") + 1))
            + F.lit(float(b))
        ).alias("margin")
    )


def train_logreg(
    features: DataFrame,
    dim: int,
    n_iters: int = 2,
    lr: float = 1.0,
    l2: float = 0.0,
    id_col: str = "doc_id",
    n_docs: int | None = None,
) -> tuple[list[float], float]:
    """Full-batch logistic GD over ``hashed_features(...,
    label_col=...)`` output. Returns ``(weights[dim], bias)``.

    ``n_docs`` is the lazy-hint discipline (skips the one sizing
    count). The feature rows are always localCheckpointed first (one
    eager job) so the ``2 * n_iters`` passes and the sizing count never
    re-execute the tokenize/hash featurization DAG (the
    edge-list-first discipline); the checkpoint is executor-local
    storage that spills to disk and forces no broadcast."""
    if "y" not in features.columns:
        raise ValueError("train_logreg: features must carry a 'y' label column")
    if n_iters < 1:
        raise ValueError(f"train_logreg: n_iters must be >= 1, got {n_iters}")
    features = features.localCheckpoint(eager=True)
    n = int(n_docs) if n_docs is not None else (
        features.select(id_col).distinct().count()
    )
    if n == 0:
        raise ValueError("train_logreg: no labeled feature rows")
    nf = float(n)

    w = [0.0] * dim
    b = 0.0
    for _ in range(n_iters):
        m = _margins(features, w, b, id_col)
        resid = m.select(
            id_col,
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin"))) - F.col("y"))
            .alias("r"),
        )
        # ONE collect per round (r6): weight gradients per bucket plus
        # the bias gradient as pseudo-bucket -1 in the same job — the
        # two-job form paid a full driver-serial scheduling round for a
        # single scalar. Values identical (same sums, order-free).
        gw_rows = (
            features.join(resid, id_col)
            .groupBy("bucket")
            .agg(F.sum(F.col("x") * F.col("r")).alias("g"))
            .unionByName(
                resid.agg(
                    F.lit(-1).cast("long").alias("bucket"),
                    F.sum("r").alias("g"),
                )
            )
            .collect()
        )
        gb = next(float(r["g"]) for r in gw_rows if int(r["bucket"]) == -1)
        grads = {
            int(r["bucket"]): float(r["g"])
            for r in gw_rows
            if int(r["bucket"]) >= 0
        }
        w = [
            w[j] - float(lr) * (grads.get(j, 0.0) / nf + float(l2) * w[j])
            for j in range(dim)
        ]
        b = b - float(lr) * (float(gb) / nf)
    return w, b


def predict(
    features: DataFrame,
    weights: list[float],
    bias: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc score ``p = sigmoid(w.x + b)`` — one map-side literal
    lookup + one hash aggregate (same shape as a training margin
    pass). Keeps ``y`` when the features carry it."""
    has_y = "y" in features.columns
    f = features if has_y else features.withColumn("y", F.lit(None).cast("double"))
    m = _margins(f, weights, bias, id_col)
    out = m.select(
        id_col,
        *( ["y"] if has_y else [] ),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin")))).alias("p"),
    )
    return out


def logreg_sql_ctes(
    dim: int,
    n_iters: int = 2,
    lr: float = 1.0,
    label_sql: str = "CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END",
    table: str = "documents",
) -> str:
    """DuckDB twin: unrolled full-batch logistic GD with the same
    tokenization, hashing, and IEEE operation order. Ends in CTEs
    ``wT(bucket, weight)`` / ``bT(bias)`` (T = ``n_iters``) and
    ``scoreT(doc_id, y, p)``. l2 = 0 form (the driver query's)."""
    h = portable_hash64_sql("tok")
    ctes = [
        f"""clf_toks AS (
          SELECT doc_id, CAST({label_sql} AS DOUBLE) AS y,
                 regexp_split_to_array(trim(text), '\\s+') AS ws
          FROM {table}
          WHERE text IS NOT NULL AND trim(text) <> ''
        )""",
        f"""clf_feat AS (
          SELECT doc_id, y, bucket,
                 CAST(COUNT(*) AS DOUBLE) / CAST(ANY_VALUE(nt) AS DOUBLE) AS x
          FROM (
            SELECT doc_id, y, len(ws) AS nt, {h} % {dim} AS bucket
            FROM clf_toks, UNNEST(ws) AS t(tok)
          )
          GROUP BY doc_id, y, bucket
        )""",
        "clf_n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM clf_feat)",
        f"""w0 AS (SELECT u AS bucket, CAST(0 AS DOUBLE) AS weight
               FROM UNNEST(range(0, {dim})) AS t(u))""",
        "b0 AS (SELECT CAST(0 AS DOUBLE) AS bias)",
    ]
    lr_sql = f"CAST({lr} AS DOUBLE)"
    for i in range(n_iters):
        ctes.append(
            f"""m{i} AS (
              SELECT f.doc_id, ANY_VALUE(f.y) AS y,
                     SUM(f.x * w.weight) + ANY_VALUE(b{i}.bias) AS margin
              FROM clf_feat f
              JOIN w{i} w ON w.bucket = f.bucket
              CROSS JOIN b{i}
              GROUP BY f.doc_id
            )""",
        )
        ctes.append(
            f"""r{i} AS (
              SELECT doc_id,
                     CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + EXP(-margin)) - y AS r
              FROM m{i}
            )""",
        )
        ctes.append(
            f"""w{i + 1} AS (
              SELECT w.bucket,
                     w.weight - {lr_sql} * (COALESCE(g.g, CAST(0 AS DOUBLE)) / clf_n.n)
                       AS weight
              FROM w{i} w
              CROSS JOIN clf_n
              LEFT JOIN (
                SELECT f.bucket, SUM(f.x * r.r) AS g
                FROM clf_feat f JOIN r{i} r ON r.doc_id = f.doc_id
                GROUP BY f.bucket
              ) g ON g.bucket = w.bucket
            )""",
        )
        ctes.append(
            f"""b{i + 1} AS (
              SELECT b{i}.bias - {lr_sql} * (SUM(r.r) / ANY_VALUE(clf_n.n)) AS bias
              FROM r{i} r CROSS JOIN b{i} CROSS JOIN clf_n
              GROUP BY b{i}.bias
            )""",
        )
    t = n_iters
    ctes.append(
        f"""score{t} AS (
          SELECT f.doc_id, ANY_VALUE(f.y) AS y,
                 CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE)
                   + EXP(-(SUM(f.x * w.weight) + ANY_VALUE(b{t}.bias)))) AS p
          FROM clf_feat f
          JOIN w{t} w ON w.bucket = f.bucket
          CROSS JOIN b{t}
          GROUP BY f.doc_id
        )"""
    )
    return ",\n".join(ctes)
