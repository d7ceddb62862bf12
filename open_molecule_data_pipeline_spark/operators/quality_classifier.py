"""Hashed linear quality classifier scoring (the DCLM / fineweb-edu
shape): model-based quality filtering applies a trained linear
classifier over hashing-trick n-gram features to every document of the
corpus — the scoring pass is the 100 TB-scale operation (training is a
tiny offline job). This implements that scoring pass exactly:

- features: unigrams + bigrams of the whitespace token stream
  (fastText's default featurization),
- the hashing trick: md5-derived 2^16-bucket feature hashing, so the
  model is a fixed-size weight table with no vocabulary file and no OOV
  path,
- a deterministic weight table: w(bucket) = (bucket * 2654435761)
  % 16384 - 8192 (Knuth multiplicative mixing — a stand-in with the
  same storage/access shape as trained weights; a deployment broadcasts
  its trained table instead),
- per-doc logit = exact int64 sum of feature weights folded MAP-SIDE
  (one ``aggregate`` over the gram array — ZERO shuffles, the whole
  score stays in codegen except the md5 calls), mean weight via the
  truncated-division mirror, keep-gate at mean >= 0.

Reference parity: the reference repo has no text-analysis layer
(analysis/__init__.py:1 is a docstring-only scaffold).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import stream_table, table
from ..registry import register
from ._stream import run_to_memory
from ._util import spread

_N_BUCKETS = 65536  # 2^16 hashed feature buckets
_MIX = 2654435761  # Knuth multiplicative constant
_W_RANGE = 16384  # weights span [-8192, 8191]

# scoring CTEs shared with the streaming twin's oracle below, so the
# two cannot drift apart
CLS_CTES = f"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split(lower(text), ' '), x -> length(x) > 0)
           AS tk
  FROM documents
),
feats AS (
  SELECT doc_id, lang,
         tk || CASE WHEN len(tk) >= 2 THEN
             list_transform(generate_series(1, len(tk) - 1),
                            i -> tk[i] || ' ' || tk[i + 1])
             ELSE []::VARCHAR[] END AS grams
  FROM toks
),
scored AS (
  SELECT doc_id, lang,
         cast(len(grams) AS BIGINT) AS n_features,
         cast(coalesce(list_aggregate(list_transform(grams,
             g -> (cast(cast('0x' || substr(md5(g), 1, 8) AS UBIGINT)
                        AS BIGINT) % {_N_BUCKETS})
                  * {_MIX} % {_W_RANGE} - {_W_RANGE // 2}), 'sum'), 0)
           AS BIGINT) AS w_sum
  FROM feats
),
meaned AS (
  SELECT doc_id, lang, n_features, w_sum,
         CASE WHEN n_features = 0 THEN 0
              WHEN w_sum < 0 THEN -((-w_sum) // n_features)
              ELSE w_sum // n_features END AS mean_w
  FROM scored
)
"""

_CLS_ORACLE = (
    CLS_CTES
    + """SELECT doc_id, lang, n_features, w_sum, mean_w,
       CASE WHEN n_features > 0 AND mean_w >= 0 THEN 1 ELSE 0 END AS kept
FROM meaned
ORDER BY doc_id
"""
)


_TK = "filter(split(lower(text), ' '), x -> length(x) > 0)"
# shared by the batch query and its streaming twin, so the two scoring
# paths cannot drift apart
GRAMS_EXPR = (
    f"concat({_TK}, zip_with("
    f"slice({_TK}, 1, greatest(size({_TK}) - 1, 0)), "
    f"slice({_TK}, 2, greatest(size({_TK}) - 1, 0)), "
    f"(a, b) -> concat(a, ' ', b)))"
)
WSUM_EXPR = (
    "aggregate(transform(grams,"
    f" g -> (cast(conv(substring(md5(g), 1, 8), 16, 10) AS BIGINT)"
    f" % {_N_BUCKETS}) * {_MIX} % {_W_RANGE} - {_W_RANGE // 2}),"
    " cast(0 AS BIGINT), (acc, v) -> acc + v)"
)


@register(
    "text_quality_classifier_hashed",
    oracle=_CLS_ORACLE,
    tags=("text", "quality", "training", "ml"),
)
def text_quality_classifier_hashed(spark, sf_dir):
    """Per-doc hashed-linear-classifier score: feature count, exact
    int64 weight sum, truncated mean weight, and the keep decision."""
    d = spread(table(spark, sf_dir, "documents"), "doc_id")
    grams = GRAMS_EXPR
    w_sum = WSUM_EXPR
    mean_w = (
        "CASE WHEN n_features = 0 THEN 0"
        " WHEN w_sum < 0 THEN -((-w_sum) div n_features)"
        " ELSE w_sum div n_features END"
    )
    return (
        d.select("doc_id", "lang", F.expr(grams).alias("grams"))
        .select(
            "doc_id",
            "lang",
            F.size("grams").cast("long").alias("n_features"),
            F.expr(w_sum).alias("w_sum"),
        )
        .withColumn("mean_w", F.expr(mean_w))
        .select(
            "doc_id",
            "lang",
            "n_features",
            "w_sum",
            "mean_w",
            F.when(
                (F.col("n_features") > 0) & (F.col("mean_w") >= 0), F.lit(1)
            )
            .otherwise(F.lit(0))
            .alias("kept"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Streaming twin: the keep-gate run as a REAL streaming job — stateless
# map-side scoring (the shared GRAMS/WSUM expressions above, so batch and
# stream cannot drift) into a stateful per-lang aggregate. This is the
# nightly-ingest deployment shape of model-based quality filtering: score
# documents as they arrive, keep a running per-slice keep-rate for drift
# monitoring. Lives here (not streaming_twin.py) because it shares this
# module's scoring constants; input and sink go through the same
# catalog.stream_table / _stream.run_to_memory path as every other twin.
# --------------------------------------------------------------------------

_QGATE_TWIN_ORACLE = (
    CLS_CTES
    + """SELECT lang,
       cast(count(*) AS BIGINT) AS n_docs,
       cast(sum(CASE WHEN n_features > 0 AND mean_w >= 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       cast(sum(w_sum) AS BIGINT) AS sum_w
FROM meaned
GROUP BY lang
"""
)


@register(
    "stream_quality_gate_twin",
    oracle=_QGATE_TWIN_ORACLE,
    tags=("streaming", "text", "quality", "ml"),
    # headline r16 (VERDICT r15 #7): the heaviest non-headline plan of
    # the r15 10x table, promoted under the cap-34 swap policy
    bench=True,
)
def stream_quality_gate_twin(spark, sf_dir):
    """Per-lang keep-rate of the hashed classifier computed by a real
    availableNow streaming run over the documents table."""
    docs, nbytes = stream_table(spark, sf_dir, "documents")
    mean_w = (
        "CASE WHEN n_features = 0 THEN 0"
        " WHEN w_sum < 0 THEN -((-w_sum) div n_features)"
        " ELSE w_sum div n_features END"
    )
    scored = (
        docs.select("lang", F.expr(GRAMS_EXPR).alias("grams"))
        .select(
            "lang",
            F.size("grams").cast("long").alias("n_features"),
            F.expr(WSUM_EXPR).alias("w_sum"),
        )
        .withColumn("mean_w", F.expr(mean_w))
    )
    agg = scored.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.when(
                (F.col("n_features") > 0) & (F.col("mean_w") >= 0), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_kept"),
        F.sum("w_sum").cast("long").alias("sum_w"),
    )
    return run_to_memory(spark, agg, output_mode="complete", input_bytes=nbytes)
