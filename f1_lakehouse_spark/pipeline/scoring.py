"""Model-based data-selection scoring (DSIR-style importance weights).

DSIR (Xie et al. 2023, "Data Selection for Language Models via Importance
Resampling") scores every raw document by how target-domain-like it is:
``log p_target(x) - log p_raw(x)`` under hashed bag-of-n-gram models
trained on the target set and the raw corpus. Both models are
bucket-count tables (a fixed number of hash buckets), so "training" is one
aggregation and scoring is a broadcast join — the raw corpus never
shuffles for the model lookup.

Determinism across engines: log-probabilities are integer-quantized to
bits exactly like ``text_lm_surprisal`` — ``floor(log2(tot/cnt))`` via
``length(bin(tot div cnt)) - 1`` on int64, with +1/(tot+B) Laplace
smoothing kept integer. No float logs anywhere, so the DuckDB oracle is
bit-identical.

At 100 TB: the feature explode is map-side; both count models are at most
``DSIR_B`` rows (broadcast); the only shuffles are the two bucket-count
aggregations (map-side combined to <= DSIR_B rows per task) and the final
per-doc aggregation. ``DSIR_B`` is a collision/quality knob, not a scale
knob — raise it for diverse corpora, the plan shape is unchanged.
"""

from __future__ import annotations
from f1_lakehouse_spark.pinning import pin_small_result

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from f1_lakehouse_spark.pipeline.hashing import (
    spark_md5_hash48,
    spark_salted_hash,
    sql_md5_hash48,
    sql_salted_hash,
)
from f1_lakehouse_spark.registry import register
from f1_lakehouse_spark.tables import cached_per_input, load_table

DSIR_B = 1024  # hash buckets per n-gram model
DSIR_TARGET_LANG = "en"  # the "target domain" for the importance weights


_SQL_FEATS_CTE = f"""
toks AS (
  SELECT doc_id, lang, string_split(text, ' ') AS ws
  FROM documents WHERE text IS NOT NULL
),
feats AS (
  SELECT doc_id, lang, {sql_md5_hash48("g")} % {DSIR_B} AS b FROM (
    SELECT doc_id, lang, unnest(ws) AS g FROM toks
    UNION ALL
    SELECT doc_id, lang,
           unnest(list_transform(generate_series(1, len(ws) - 1),
                                 i -> ws[i] || ' ' || ws[i + 1])) AS g
    FROM toks WHERE len(ws) >= 2
  )
)"""

_SQL_BITS_R = f"length(bin((tot_r + {DSIR_B}) // (cnt_r + 1))) - 1"
_SQL_BITS_T = f"length(bin((tot_t + {DSIR_B}) // (COALESCE(cnt_t, 0) + 1))) - 1"


_SQL_DSIR_SCORED = f"""
WITH {_SQL_FEATS_CTE},
raw AS (SELECT b, COUNT(*) AS cnt_r FROM feats GROUP BY 1),
rtot AS (SELECT COUNT(*) AS tot_r FROM feats),
tgt AS (SELECT b, COUNT(*) AS cnt_t FROM feats
        WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY 1),
ttot AS (SELECT COUNT(*) AS tot_t FROM feats
         WHERE lang = '{DSIR_TARGET_LANG}'),
dsir_scored AS (
  SELECT f.doc_id, f.lang, COUNT(*) AS n_feats,
         CAST(SUM(({_SQL_BITS_R}) - ({_SQL_BITS_T})) AS BIGINT) AS score_bits
  FROM feats f
  JOIN raw USING (b)
  CROSS JOIN rtot
  LEFT JOIN tgt USING (b)
  CROSS JOIN ttot
  GROUP BY 1, 2
)"""


@register(
    "dsir_importance_weights",
    oracle=_SQL_DSIR_SCORED
    + """
SELECT doc_id, lang, n_feats, score_bits, score_bits / n_feats AS avg_bits
FROM dsir_scored
""",
    doc="DSIR importance weights: per-doc quantized log p_target - log "
    "p_raw under hashed unigram+bigram bucket models (target = lang='"
    + DSIR_TARGET_LANG
    + "' docs). Models are DSIR_B-row broadcast tables; scoring is a "
    "broadcast join + one per-doc aggregation — the corpus shuffles once",
    tags=("pipeline", "scoring", "dsir"),
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _dsir_scored_frame(spark, sf_dir)
    return scored.select(
        "doc_id",
        "lang",
        "n_feats",
        "score_bits",
        (F.col("score_bits") / F.col("n_feats")).alias("avg_bits"),
    )


def _dsir_scored_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, n_feats, score_bits) — the shared trained-and-scored
    DSIR frame (persisted + materialized before return)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.filter(F.col("text").isNotNull()).select(
        "doc_id", "lang", F.split("text", " ").alias("ws")
    )
    ws = F.col("ws")
    bigrams = F.when(
        F.size(ws) >= 2,  # ascending-sequence guard (see text.py)
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - F.lit(1)),
            lambda i: F.concat_ws(
                " ", F.element_at(ws, i), F.element_at(ws, i + F.lit(1))
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    feats = toks.select(
        "doc_id",
        "lang",
        F.explode(F.concat(ws, bigrams)).alias("g"),
    ).select("doc_id", "lang", (spark_md5_hash48("g") % DSIR_B).alias("b"))
    # two derived count models + a join back onto feats: persist the shared
    # explode first (CLAUDE.md discipline)
    feats = feats.persist()
    feats.count()

    raw = feats.groupBy("b").agg(F.count("*").alias("cnt_r"))
    rtot = feats.agg(F.count("*").alias("tot_r"))
    tgt_feats = feats.filter(F.col("lang") == DSIR_TARGET_LANG)
    tgt = tgt_feats.groupBy("b").agg(F.count("*").alias("cnt_t"))
    ttot = tgt_feats.agg(F.count("*").alias("tot_t"))

    # floor(log2((tot + B) / (cnt + 1))) via binary-length, all int64
    bits_r = (
        F.length(F.bin(F.expr(f"(tot_r + {DSIR_B}) div (cnt_r + 1)"))) - F.lit(1)
    )
    bits_t = (
        F.length(
            F.bin(F.expr(f"(tot_t + {DSIR_B}) div (coalesce(cnt_t, 0) + 1)"))
        )
        - F.lit(1)
    )
    out = (
        feats.join(F.broadcast(raw), "b")
        .crossJoin(F.broadcast(rtot))
        .join(F.broadcast(tgt), "b", "left")
        .crossJoin(F.broadcast(ttot))
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_feats"),
            F.sum(bits_r - bits_t).cast("long").alias("score_bits"),
        )
    )
    out = out.persist()
    out.count()
    feats.unpersist()
    return out


# --- DSIR resampling (the selection step) -------------------------------------------
# The second half of DSIR: sample raw docs with probability increasing in
# the importance weight. Acceptance is integer-exact: a salted hash draw
# in [0, 1024) against a clamped affine-in-bits threshold — every +1 bit
# of target-likeness adds 32/1024 acceptance probability, saturating at
# [0, 1]. Deterministic, map-only on top of the scored frame, and
# reproducible across engines/cluster layouts (no RNG state).

DSIR_SLOPE = 32  # acceptance per bit, /1024
DSIR_PIVOT = 768  # acceptance at score_bits = 0, /1024


@register(
    "dsir_resample",
    oracle=_SQL_DSIR_SCORED
    + f"""
SELECT doc_id, lang, score_bits
FROM dsir_scored
WHERE {sql_salted_hash("doc_id", ":dsir")} % 1024
      < least(1024, greatest(0, {DSIR_PIVOT} + {DSIR_SLOPE} * score_bits))
""",
    doc="DSIR importance resampling: keep docs with probability affine in "
    "the quantized importance bits (clamped to [0,1]), decided by a salted "
    "integer hash draw — deterministic, map-only selection on the scored "
    "frame",
    tags=("pipeline", "scoring", "dsir", "curation"),
)
def dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _dsir_scored_frame(spark, sf_dir)
    draw = spark_salted_hash("doc_id", ":dsir") % 1024
    thresh = F.least(
        F.lit(1024),
        F.greatest(F.lit(0), F.lit(DSIR_PIVOT) + F.lit(DSIR_SLOPE) * F.col("score_bits")),
    )
    return scored.filter(draw < thresh).select("doc_id", "lang", "score_bits")


# --- source distribution drift (chi-square) -----------------------------------------
# Per-source chi-square statistic of the hashed-unigram distribution
# against the whole-corpus distribution — the "did this crawl change?"
# drift monitor. Exactness: with o = source bucket count, e's rational
# form e = tot_s * cnt_b / tot, each term (o - e)^2 / e is computed as
#     (o*tot - tot_s*cnt_b)^2 / (tot_s * cnt_b * tot)
# — numerator/denominator EXACT in scale-0 decimals (no cancellation in
# floats), one double division per bucket, decimal-quantized terms so the
# per-source sum is order-independent. Both count models are bucket-sized
# broadcasts; the corpus shuffles only for the two bucket aggregations.


@register(
    "text_source_drift_chi2",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS ws
  FROM documents WHERE text IS NOT NULL
),
feats AS (
  SELECT source, {sql_md5_hash48("g")} % {DSIR_B} AS b FROM (
    SELECT source, unnest(ws) AS g FROM toks
  )
),
sb AS (SELECT source, b, COUNT(*) AS o FROM feats GROUP BY 1, 2),
cb AS (SELECT b, COUNT(*) AS cnt_b FROM feats GROUP BY 1),
st AS (SELECT source, COUNT(*) AS tot_s FROM feats GROUP BY 1),
tt AS (SELECT COUNT(*) AS tot FROM feats),
terms AS (
  SELECT sb.source,
         CAST(CAST(CAST(sb.o AS HUGEINT) * tt.tot
                   - CAST(st.tot_s AS HUGEINT) * cb.cnt_b AS HUGEINT)
              * CAST(CAST(sb.o AS HUGEINT) * tt.tot
                     - CAST(st.tot_s AS HUGEINT) * cb.cnt_b AS HUGEINT)
              AS DOUBLE)
           / CAST(CAST(st.tot_s AS HUGEINT) * cb.cnt_b * tt.tot AS DOUBLE)
             AS term
  FROM sb JOIN cb USING (b) JOIN st USING (source) CROSS JOIN tt
)
SELECT source,
       COUNT(*) AS n_buckets,
       round(CAST(SUM(CAST(term AS DECIMAL(27,9))) AS DOUBLE), 9) AS chi2
FROM terms GROUP BY 1
""",
    doc="per-source chi-square drift of the hashed-unigram distribution vs "
    "the corpus: exact integer numerators (no float cancellation), "
    "decimal-quantized terms, bucket-sized broadcast models — the crawl "
    "drift monitor",
    tags=("pipeline", "scoring", "diagnostics"),
)
def text_source_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    feats = (
        d.filter(F.col("text").isNotNull())
        .select("source", F.explode(F.split("text", " ")).alias("g"))
        .select("source", (spark_md5_hash48("g") % DSIR_B).alias("b"))
    )
    feats = feats.persist()
    feats.count()  # four derived aggregates (CLAUDE.md)
    sb = feats.groupBy("source", "b").agg(F.count("*").alias("o"))
    cb = feats.groupBy("b").agg(F.count("*").alias("cnt_b"))
    st = feats.groupBy("source").agg(F.count("*").alias("tot_s"))
    tt = feats.agg(F.count("*").alias("tot"))
    dec = "decimal(38,0)"
    num = (
        F.col("o").cast(dec) * F.col("tot").cast(dec)
        - F.col("tot_s").cast(dec) * F.col("cnt_b").cast(dec)
    )
    den = (
        F.col("tot_s").cast(dec) * F.col("cnt_b").cast(dec) * F.col("tot").cast(dec)
    )
    term = (num * num).cast("double") / den.cast("double")
    out = (
        sb.join(F.broadcast(cb), "b")
        .join(F.broadcast(st), "source")
        .crossJoin(F.broadcast(tt))
        .select("source", term.alias("term"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_buckets"),
            F.round(
                F.sum(F.col("term").cast("decimal(27,9)")).cast("double"), 9
            ).alias("chi2"),
        )
    )
    out = out.persist()
    out.count()
    feats.unpersist()
    return out


# --- hashed-linear quality classifier (fastText-style, zero-shuffle) -----------------
# The production corpus-quality gate most LLM pipelines run (CCNet /
# fastText linear classifier): hashed unigram+bigram features dotted with
# a weight vector, mean feature weight squashed into a keep/drop band. The
# weight table here is hash-derived (w(h) = h mod 2001 - 1000, a fixed
# pseudo-model) so both engines score identically with no model file; in
# production the same shape broadcasts a trained weight map.
#
# Scale: the entire classifier is ONE map-side fold per document — grams
# are built, hashed and folded inside array expressions (left fold, fixed
# order, integer arithmetic), so scoring 100 TB is a scan with zero
# shuffles and no Python. The only aggregation is the caller's.

LINW_RANGE = 2001  # weights in [-1000, 1000]


@register(
    "scoring_hashed_linear_quality",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, lang, string_split(text, ' ') AS ws
    FROM documents WHERE text IS NOT NULL
),
feats AS (
    SELECT doc_id, lang,
           list_concat(
               ws,
               CASE WHEN len(ws) >= 2 THEN
                   list_transform(generate_series(1, len(ws) - 1),
                                  i -> ws[i] || ' ' || ws[i+1])
               ELSE [] END) AS gs
    FROM toks
),
scored AS (
    SELECT doc_id, lang, len(gs) AS n_feats,
           list_reduce(list_prepend(0::BIGINT,
               list_transform(gs, g -> ({sql_md5_hash48('g')}) % {LINW_RANGE} - 1000)),
               (acc, w) -> acc + w) AS score_sum
    FROM feats
)
SELECT doc_id, lang,
       CAST(n_feats AS BIGINT) AS n_feats,
       CAST(score_sum AS BIGINT) AS score_sum,
       round(CAST(score_sum AS DOUBLE) / n_feats, 9) AS mean_w,
       CASE WHEN score_sum >= 0 THEN 'keep' ELSE 'drop' END AS verdict
FROM scored
""",
    doc="fastText-style hashed linear quality classifier: unigram+bigram "
    "features hashed to a fixed pseudo-weight table, scored by ONE "
    "map-side integer fold per doc (zero shuffle, no Python, no model "
    "broadcast needed for the hash-derived weights)",
    tags=("pipeline", "scoring", "classifier"),
)
def scoring_hashed_linear_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hashed_score_frame(spark, sf_dir)


# Shared score frame: NINE registered queries (the classifier itself,
# isotonic, brier, PSI, Youden-J, confident-learning, kappa, decile lift,
# conformal-style joins in round6_stats) start from this identical per-doc
# frame, and the per-gram md5 fold behind it is the single most expensive
# map stage in the scoring family — while the RESULT is six narrow columns
# per document. Same single-entry (session, input)-keyed persisted cache
# as text.char_trigram_frame (CLAUDE.md shared-frame convention: never
# unpersisted inside a query fn; rolls over on input change).
@cached_per_input("documents")
def hashed_score_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.filter(F.col("text").isNotNull()).select(
        "doc_id", "lang", F.split("text", " ").alias("ws")
    )
    ws = F.col("ws")
    bigrams = F.when(
        F.size(ws) >= 2,  # ascending-sequence guard (see text.py)
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - F.lit(1)),
            lambda i: F.concat_ws(
                " ", F.element_at(ws, i), F.element_at(ws, i + F.lit(1))
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # materialize the gram array as a real column before the fold
    # references it (unmaterialized-expression trap, CLAUDE.md)
    g = toks.select("doc_id", "lang", F.concat(ws, bigrams).alias("gs"))
    gs = F.col("gs")
    score_sum = F.aggregate(
        gs,
        F.lit(0).cast("long"),
        lambda acc, gr: acc + (spark_md5_hash48(gr) % LINW_RANGE - F.lit(1000)),
    )
    out = g.select(
        "doc_id",
        "lang",
        F.size(gs).cast("long").alias("n_feats"),
        score_sum.alias("score_sum"),
    )
    out = out.select(
        "doc_id",
        "lang",
        "n_feats",
        "score_sum",
        F.round(F.col("score_sum").cast("double") / F.col("n_feats"), 9).alias(
            "mean_w"
        ),
        F.when(F.col("score_sum") >= 0, F.lit("keep"))
        .otherwise(F.lit("drop"))
        .alias("verdict"),
    )
    out = out.persist()
    out.count()  # materialize: consumers join/aggregate it repeatedly
    return out


# --- split-conformal prediction interval --------------------------------------------
# Distribution-free uncertainty for ANY predictor: fit on a train split,
# take the ceil(0.9*(n+1))-th smallest absolute residual on a held-out
# calibration split as the interval radius, and the marginal coverage
# guarantee >= 90% holds with no distributional assumption. Machinery:
# the predictor is an exact-moment OLS (integer x = quantity, decimal y
# = price, so every moment is exact — no double->decimal cast anywhere);
# the k-th order statistic is DISTRIBUTED via the two-phase prefix sum
# (never a global sort); coverage is one broadcast-radius aggregate over
# the test split. Hash-split 2:1:1 train/calib/test.
#
# Decimal->double discipline: y-moments rescale to scale 3 before the
# double cast (unscaled value stays under 2^53 — the documented DuckDB
# double-rounding trap), with round() in the oracle to match Spark's
# HALF_UP rescale.

CONFORMAL_TARGET_PPM = 900_000  # 90% nominal coverage

_CONF_SPLIT = (
    "CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '_' || "
    "CAST(l_linenumber AS VARCHAR)), 1, 12)) AS BIGINT) % 4"
)

_CONF_ORACLE = f"""
WITH base AS (
  SELECT l_orderkey, l_linenumber,
         CAST(CAST(l_quantity AS DECIMAL(18,3)) * 1000 AS BIGINT) AS xmil,
         CAST(l_extendedprice AS DECIMAL(27,6)) AS y,
         {_CONF_SPLIT} AS split
  FROM lineitem
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(xmil) AS BIGINT) AS sx,
         CAST(SUM(xmil * xmil) AS BIGINT) AS sxx,
         CAST(round(SUM(y), 3) AS DOUBLE) AS sy,
         CAST(round(SUM(y * xmil), 3) AS DOUBLE) AS sxy_mil
  FROM base WHERE split <= 1
), fit AS (
  SELECT (CAST(n AS DOUBLE) * sxy_mil - CAST(sx AS DOUBLE) * sy)
           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           AS b_mil,
         n, sx, sy
  FROM m
), fit2 AS (
  SELECT b_mil,
         (sy - b_mil * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS a
  FROM fit
), calib AS (
  SELECT abs(CAST(b.y AS DOUBLE) - (f.a + f.b_mil * CAST(b.xmil AS DOUBLE))) AS r,
         b.l_orderkey, b.l_linenumber
  FROM base b CROSS JOIN fit2 f WHERE b.split = 2
), nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_calib FROM calib),
ranked AS (
  SELECT r, row_number() OVER (ORDER BY r, l_orderkey, l_linenumber) AS rn
  FROM calib
), radius AS (
  SELECT r.r AS radius
  FROM ranked r CROSS JOIN nc
  WHERE r.rn = (9 * (nc.n_calib + 1) + 9) // 10
), test AS (
  SELECT abs(CAST(b.y AS DOUBLE) - (f.a + f.b_mil * CAST(b.xmil AS DOUBLE))) AS r
  FROM base b CROSS JOIN fit2 f WHERE b.split = 3
)
SELECT f.b_mil * 1000.0 AS slope,
       f.a AS intercept,
       rad.radius,
       nc.n_calib,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       CAST(SUM(CASE WHEN t.r <= rad.radius THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
       CAST(CAST(SUM(CASE WHEN t.r <= rad.radius THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS coverage
FROM test t CROSS JOIN radius rad CROSS JOIN fit2 f CROSS JOIN nc
GROUP BY f.b_mil, f.a, rad.radius, nc.n_calib
"""


@register(
    "scoring_conformal_interval",
    oracle=_CONF_ORACLE,
    doc="split-conformal 90% prediction interval for price~quantity OLS: "
    "exact-moment fit on the train split, DISTRIBUTED k-th-order-statistic "
    "radius on calibration (two-phase prefix sum, no global sort), "
    "measured coverage on test — the distribution-free uncertainty "
    "guarantee, exact cross-engine",
    tags=("pipeline", "scoring", "conformal", "prefix-sum"),
)
def scoring_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_lakehouse_spark.operators.extensions import global_prefix_sum

    li = load_table(spark, sf_dir, "lineitem")
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "_",
                    F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string"),
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    base = li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_quantity").cast("decimal(18,3)") * 1000)
        .cast("long")
        .alias("xmil"),
        F.col("l_extendedprice").cast("decimal(27,6)").alias("y"),
        (h % 4).alias("split"),
    )
    # persisted: the md5 split hash is the expensive map work and three
    # consumers read it (measured at 10x: 22.4s cached vs 33.4s re-derived)
    base = base.persist()
    base.count()
    try:
        m = base.where(F.col("split") <= 1).agg(
            F.count("*").cast("long").alias("n"),
            F.sum("xmil").cast("long").alias("sx"),
            F.sum(F.col("xmil") * F.col("xmil")).cast("long").alias("sxx"),
            F.round(F.sum("y"), 3).cast("double").alias("sy"),
            F.round(F.sum(F.col("y") * F.col("xmil")), 3)
            .cast("double")
            .alias("sxy_mil"),
        )
        mrow = m.collect()[0]  # 5 scalars: the trained model (model-sized)
        n, sx, sxx = mrow["n"], mrow["sx"], mrow["sxx"]
        sy, sxy = mrow["sy"], mrow["sxy_mil"]
        b_mil = (float(n) * sxy - float(sx) * sy) / (
            float(n) * float(sxx) - float(sx) * float(sx)
        )
        a = (sy - b_mil * float(sx)) / float(n)
        resid = F.abs(
            F.col("y").cast("double")
            - (F.lit(a) + F.lit(b_mil) * F.col("xmil").cast("double"))
        )
        calib = base.where(F.col("split") == 2).select(
            resid.alias("r"),
            "l_orderkey",
            "l_linenumber",
            F.lit(1).cast("decimal(27,6)").alias("one"),
        )
        cum, release, total = global_prefix_sum(
            spark,
            calib,
            "one",
            [F.col("r").asc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc()],
        )
        n_calib = int(total)
        k = (9 * (n_calib + 1) + 9) // 10
        radius_row = (
            cum.where(F.col("cum") == F.lit(k).cast("decimal(27,6)"))
            .select("r")
            .collect()
        )
        release()
        radius = radius_row[0]["r"]
        test = base.where(F.col("split") == 3).select(resid.alias("r"))
        out = test.agg(
            F.count("*").cast("long").alias("n_test"),
            F.sum(F.when(F.col("r") <= radius, 1).otherwise(0))
            .cast("long")
            .alias("n_covered"),
        ).select(
            F.lit(b_mil * 1000.0).alias("slope"),
            F.lit(a).alias("intercept"),
            F.lit(radius).alias("radius"),
            F.lit(n_calib).cast("long").alias("n_calib"),
            "n_test",
            "n_covered",
            (
                F.col("n_covered").cast("double") / F.col("n_test").cast("double")
            ).alias("coverage"),
        )
        out = pin_small_result(out, 16)
    finally:
        base.unpersist()
    return out


# --- exact distributed AUC (Mann-Whitney U) -----------------------------------------
# "Can the cheap hashed-linear score replace the expensive gopher gate?"
# answered with the exact ROC AUC of score vs gate label: the rank-sum
# statistic grouped by DISTINCT SCORE (ties handled by the half-credit
# convention), with the tie-safe 2U form — 2U = sum_g p_g*(2*negs_below_g
# + q_g) — so everything stays integer-exact. The cumulative
# negatives-below runs on the two-phase distributed prefix sum over
# score groups (groups << rows; never a global sort of docs). Exactness
# boundary: 2U <= n_pos*n_neg*2 must stay below 2^53 for the final
# decimal->double cast to be exact (fine through ~10^8 x 10^8 pairs
# per evaluation slice; stratify beyond).

_AUC_ORACLE = """
WITH scores AS ({score_q}),
labels AS ({label_q}),
joined AS (
  SELECT s.score_sum AS sc, l.passes_repetition AS y
  FROM scores s JOIN labels l ON s.doc_id = l.doc_id
),
grp AS (
  SELECT sc,
         CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS p,
         CAST(SUM(CASE WHEN y = 1 THEN 0 ELSE 1 END) AS BIGINT) AS q
  FROM joined GROUP BY sc
),
cum AS (
  SELECT sc, p, q,
         CAST(SUM(q) OVER (ORDER BY sc) AS BIGINT) AS cq
  FROM grp
),
tot AS (
  SELECT CAST(SUM(p) AS BIGINT) AS np, CAST(SUM(q) AS BIGINT) AS nq FROM grp
)
SELECT t.np AS n_pos, t.nq AS n_neg,
       CAST(u.u2 AS DOUBLE) / (2.0 * CAST(t.np AS DOUBLE) * CAST(t.nq AS DOUBLE)) AS auc
FROM (SELECT CAST(SUM(p * (2 * (cq - q) + q)) AS BIGINT) AS u2 FROM cum) u
CROSS JOIN tot t
"""


@register(
    "scoring_auc_mann_whitney",
    oracle=None,  # composed below from the two sub-oracles
    doc="exact ROC AUC of the hashed-linear quality score against the "
    "gopher repetition gate: tie-aware Mann-Whitney 2U in pure integer "
    "arithmetic, cumulative negatives via the distributed prefix sum "
    "over score groups — one float division at the end",
    tags=("pipeline", "scoring", "eval", "prefix-sum"),
)
def scoring_auc_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_lakehouse_spark.operators.extensions import global_prefix_sum
    from f1_lakehouse_spark.pipeline.filtering import quality_gopher_repetition

    s = scoring_hashed_linear_quality(spark, sf_dir).select("doc_id", "score_sum")
    lab = quality_gopher_repetition(spark, sf_dir).select(
        "doc_id", "passes_repetition"
    )
    joined = s.join(lab, "doc_id").select(
        F.col("score_sum").alias("sc"),
        F.col("passes_repetition").alias("y"),
    )
    grp = joined.groupBy("sc").agg(
        F.sum(F.when(F.col("y") == 1, 1).otherwise(0)).cast("long").alias("p"),
        F.sum(F.when(F.col("y") == 1, 0).otherwise(1)).cast("long").alias("q"),
    )
    grp = grp.withColumn("qd", F.col("q").cast("decimal(38,0)"))
    cum, release, total_q = global_prefix_sum(
        spark, grp, "qd", [F.col("sc").asc()]
    )
    # 2U term per score group, exact integers throughout
    u_frame = cum.select(
        (
            F.col("p").cast("decimal(38,0)")
            * (
                F.lit(2).cast("decimal(38,0)")
                * (F.col("cum") - F.col("qd"))
                + F.col("qd")
            )
        ).alias("term"),
        "p",
        "q",
    )
    agg = u_frame.agg(
        F.sum("term").cast("decimal(38,0)").alias("u2"),
        F.sum("p").cast("long").alias("np"),
        F.sum("q").cast("long").alias("nq"),
    )
    out = agg.select(
        F.col("np").alias("n_pos"),
        F.col("nq").alias("n_neg"),
        (
            F.col("u2").cast("double")
            / (
                F.lit(2.0)
                * F.col("np").cast("double")
                * F.col("nq").cast("double")
            )
        ).alias("auc"),
    )
    out = pin_small_result(out, 16)
    release()
    return out


# wire the composed oracle (needs the registered sub-oracles; text must
# load before filtering->dedup so the dependency chain registers under
# ANY module import order)
import f1_lakehouse_spark.pipeline.text  # noqa: E402,F401
import f1_lakehouse_spark.pipeline.filtering  # noqa: E402,F401

from f1_lakehouse_spark.registry import REGISTRY as _REG  # noqa: E402

_REG["scoring_auc_mann_whitney"].oracle = _AUC_ORACLE.format(
    score_q=_REG["scoring_hashed_linear_quality"].oracle,
    label_q=_REG["quality_gopher_repetition"].oracle,
)


# --- decile lift & gains table -------------------------------------------------------
# The model-evaluation table every targeting decision reads: rank docs
# by the hashed-linear quality score, cut into exact deciles (distributed
# prefix-sum ranks — the exact-NTILE discipline, never a single-partition
# window), and report per-decile positive rate (vs the gopher gate),
# lift over the base rate, and cumulative gains from the top decile
# down. Everything integer until the final ratios; the cumulative gains
# fold over the 10-row decile table in descending-decile order.

_LIFT_ORACLE = """
WITH scores AS ({score_q}),
labels AS ({label_q}),
joined AS (
  SELECT s.doc_id, s.score_sum AS sc, l.passes_repetition AS y
  FROM scores s JOIN labels l ON s.doc_id = l.doc_id
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(y) AS BIGINT) AS npos FROM joined),
ranked AS (
  SELECT y,
         CAST(ROW_NUMBER() OVER (ORDER BY sc DESC, doc_id) AS BIGINT) AS rk
  FROM joined
),
dec AS (
  SELECT ((r.rk - 1) * 10) // nn.n + 1 AS decile, r.y
  FROM ranked r CROSS JOIN nn
),
per AS (
  SELECT decile,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(y) AS BIGINT) AS n_pos
  FROM dec GROUP BY decile
),
packed AS (
  SELECT list(struct_pack(d := decile, nd := n_docs, np := n_pos) ORDER BY decile) AS arr,
         (SELECT npos FROM nn) AS npos_all,
         (SELECT n FROM nn) AS n_all
  FROM per
)
SELECT arr[i].d AS decile,
       arr[i].nd AS n_docs,
       arr[i].np AS n_pos,
       CAST(arr[i].np AS DOUBLE) / CAST(arr[i].nd AS DOUBLE) AS pos_rate,
       (CAST(arr[i].np AS DOUBLE) / CAST(arr[i].nd AS DOUBLE))
         / (CAST(npos_all AS DOUBLE) / CAST(n_all AS DOUBLE)) AS lift,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(list_slice(arr, 1, i), s -> s.np)), (a, b) -> a + b) AS DOUBLE)
         / CAST(npos_all AS DOUBLE) AS cum_gain
FROM (SELECT unnest(range(1, len(arr) + 1)) AS i, arr, npos_all, n_all FROM packed)
"""


@register(
    "scoring_decile_lift",
    oracle=None,  # composed below
    doc="decile lift & cumulative-gains table for the hashed-linear "
    "quality score vs the gopher gate: exact deciles via distributed "
    "prefix-sum ranks, integer counts, in-order folds for cumulative "
    "gains — the targeting readout, exact cross-engine",
    tags=("pipeline", "scoring", "eval", "prefix-sum"),
)
def scoring_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_lakehouse_spark.operators.extensions import global_prefix_sum
    from f1_lakehouse_spark.pipeline.filtering import quality_gopher_repetition

    s = scoring_hashed_linear_quality(spark, sf_dir).select("doc_id", "score_sum")
    lab = quality_gopher_repetition(spark, sf_dir).select(
        "doc_id", "passes_repetition"
    )
    joined = s.join(lab, "doc_id").select(
        "doc_id",
        F.col("score_sum").alias("sc"),
        F.col("passes_repetition").cast("long").alias("y"),
        F.lit(1).cast("decimal(27,6)").alias("one"),
    )
    cum, release, total = global_prefix_sum(
        spark, joined, "one", [F.col("sc").desc(), F.col("doc_id").asc()]
    )
    n_all = int(total)
    dec = cum.select(
        "y",
        (
            ((F.col("cum").cast("long") - 1) * 10)
            / F.lit(n_all)
        )
        .cast("long")
        .alias("d0"),
    ).select((F.col("d0") + 1).alias("decile"), "y")
    per = dec.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    packed = per.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("decile").alias("d"), F.col("n_docs").alias("nd"), F.col("n_pos").alias("np")))
        ).alias("arr")
    )
    # total positives folds out of the packed decile array itself — one
    # fewer job than a separate SUM(y) action over the ranked frame
    npos_all = F.aggregate(
        F.transform("arr", lambda st: st["np"]),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    ).cast("double")
    rows = packed.select(
        F.explode(F.sequence(F.lit(1), F.size("arr"))).alias("i"),
        "arr",
        npos_all.alias("npos_all"),
    )
    el = lambda f: F.element_at("arr", F.col("i"))[f]  # noqa: E731
    pos_rate = el("np").cast("double") / el("nd").cast("double")
    base = F.col("npos_all") / F.lit(float(n_all))
    cum_gain = (
        F.aggregate(
            F.transform(
                F.slice("arr", F.lit(1), F.col("i")), lambda st: st["np"]
            ),
            F.lit(0).cast("long"),
            lambda a, b: a + b,
        ).cast("double")
        / F.col("npos_all")
    )
    out = rows.select(
        el("d").alias("decile"),
        el("nd").alias("n_docs"),
        el("np").alias("n_pos"),
        pos_rate.alias("pos_rate"),
        (pos_rate / base).alias("lift"),
        cum_gain.alias("cum_gain"),
    )
    out = pin_small_result(out, 64)
    release()
    return out


_REG["scoring_decile_lift"].oracle = _LIFT_ORACLE.format(
    score_q=_REG["scoring_hashed_linear_quality"].oracle,
    label_q=_REG["quality_gopher_repetition"].oracle,
)


# --- isotonic (PAVA) calibration of the quality score ---------------------------------
# "Does a higher score really mean a higher pass rate, and what IS the
# calibrated rate?" — answered with the isotonic regression of the gopher
# gate on the hashed-linear score, via the minimax identity
# iso_i = max_{j<=i} min_{k>=i} mean(y_j..y_k), which is pure expressions
# (no sequential pool-adjacent-violators loop): prefix counts are integer
# folds, block means integer-ratio doubles, min/max order-free. Bins are
# integer-exact: (sc - mn) * NB // (mx - mn + 1) needs no clamp and no
# float rounding. The bin table is design-bounded (NB bins), so the
# O(NB^3) minimax is constant work at any SF.

_ISO_BINS = 20

_ISO_ORACLE = """
WITH scores AS ({score_q}),
labels AS ({label_q}),
joined AS (
  SELECT s.score_sum AS sc, CAST(l.passes_repetition AS BIGINT) AS y
  FROM scores s JOIN labels l ON s.doc_id = l.doc_id
), rng AS (
  SELECT MIN(sc) AS mn, MAX(sc) AS mx FROM joined
), binned AS (
  SELECT CAST((j.sc - r.mn) * {nb} // (r.mx - r.mn + 1) AS BIGINT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(j.y) AS BIGINT) AS pos
  FROM joined j CROSS JOIN rng r
  GROUP BY 1
), packed AS (
  SELECT list(struct_pack(b := bin, n := n, p := pos) ORDER BY bin) AS arr FROM binned
), pfx AS (
  SELECT arr, len(arr) AS m,
         list_transform(range(0, len(arr) + 1),
           i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(list_slice(arr, 1, i), s -> s.n)), (a, b) -> a + b)) AS cn,
         list_transform(range(0, len(arr) + 1),
           i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(list_slice(arr, 1, i), s -> s.p)), (a, b) -> a + b)) AS cp
  FROM packed
), iso AS (
  SELECT arr, m, cn, cp,
         list_transform(range(1, m + 1),
           i -> list_reduce(list_transform(range(1, i + 1),
                  j -> list_reduce(list_transform(range(i, m + 1),
                         k -> CAST(cp[k + 1] - cp[j] AS DOUBLE) / CAST(cn[k + 1] - cn[j] AS DOUBLE)),
                         (a, b) -> CASE WHEN b < a THEN b ELSE a END)),
                  (a, b) -> CASE WHEN b > a THEN b ELSE a END)) AS f
  FROM pfx
)
SELECT arr[i].b AS bin,
       arr[i].n AS n_docs,
       arr[i].p AS n_pos,
       CAST(arr[i].p AS DOUBLE) / CAST(arr[i].n AS DOUBLE) AS raw_rate,
       f[i] AS iso_rate
FROM (SELECT unnest(range(1, m + 1)) AS i, arr, f FROM iso)
"""


@register(
    "scoring_isotonic_calibration",
    oracle=None,  # composed below from the score/label oracles
    doc=f"isotonic (PAVA) calibration of the hashed-linear quality score "
    f"against the gopher gate over {_ISO_BINS} integer-exact score bins, "
    "via the minimax identity max-min of block means — loop-free, "
    "design-bounded O(bins^3), bit-exact cross-engine.",
    tags=("pipeline", "scoring", "calibration"),
)
def scoring_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB: one score scan + one label scan join, one bin aggregate
    with map-side combine; the minimax runs over the NB-bin packed array."""
    from f1_lakehouse_spark.pipeline.filtering import quality_gopher_repetition

    s = scoring_hashed_linear_quality(spark, sf_dir).select("doc_id", "score_sum")
    lab = quality_gopher_repetition(spark, sf_dir).select("doc_id", "passes_repetition")
    joined = s.join(lab, "doc_id").select(
        F.col("score_sum").alias("sc"),
        F.col("passes_repetition").cast("long").alias("y"),
    )
    rng = joined.agg(F.min("sc").alias("mn"), F.max("sc").alias("mx"))
    binned = (
        joined.crossJoin(F.broadcast(rng))
        .select(
            (
                (F.col("sc") - F.col("mn"))
                * _ISO_BINS
                / (F.col("mx") - F.col("mn") + 1)
            )
            .cast("long")
            .alias("bin"),
            "y",
        )
        .groupBy("bin")
        .agg(F.count("*").cast("long").alias("n"), F.sum("y").cast("long").alias("pos"))
    )
    packed = binned.agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col("bin").alias("b"), F.col("n"), F.col("pos").alias("p"))
            )
        ).alias("arr")
    )
    zero = F.lit(0).cast("long")
    pfx = packed.select(
        "arr",
        F.size("arr").alias("m"),
        F.transform(
            F.sequence(F.lit(0), F.size("arr")),
            lambda i: F.aggregate(
                F.transform(F.slice("arr", F.lit(1), i), lambda s2: s2["n"]),
                zero,
                lambda a, b: a + b,
            ),
        ).alias("cn"),
        F.transform(
            F.sequence(F.lit(0), F.size("arr")),
            lambda i: F.aggregate(
                F.transform(F.slice("arr", F.lit(1), i), lambda s2: s2["p"]),
                zero,
                lambda a, b: a + b,
            ),
        ).alias("cp"),
    )

    def block_mean(j, k):
        return (
            F.element_at("cp", (k + F.lit(1)).cast("int"))
            - F.element_at("cp", j.cast("int"))
        ).cast("double") / (
            F.element_at("cn", (k + F.lit(1)).cast("int"))
            - F.element_at("cn", j.cast("int"))
        ).cast("double")

    iso = pfx.select(
        "arr",
        "m",
        F.transform(
            F.sequence(F.lit(1), F.col("m")),
            lambda i: F.array_max(
                F.transform(
                    F.sequence(F.lit(1), i),
                    lambda j: F.array_min(
                        F.transform(
                            F.sequence(i, F.col("m")), lambda k: block_mean(j, k)
                        )
                    ),
                )
            ),
        ).alias("f"),
    )
    rows = iso.select(
        F.explode(F.sequence(F.lit(1), F.col("m"))).alias("i"), "arr", "f"
    )
    el = F.element_at("arr", F.col("i"))
    return rows.select(
        el["b"].alias("bin"),
        el["n"].alias("n_docs"),
        el["p"].alias("n_pos"),
        (el["p"].cast("double") / el["n"].cast("double")).alias("raw_rate"),
        F.element_at("f", F.col("i")).alias("iso_rate"),
    )


_REG["scoring_isotonic_calibration"].oracle = _ISO_ORACLE.format(
    score_q=_REG["scoring_hashed_linear_quality"].oracle,
    label_q=_REG["quality_gopher_repetition"].oracle,
    nb=_ISO_BINS,
)


# --- confident-learning label-noise prune ----------------------------------------------
# Cleanlab-style label-error detection, binary form: per-class score
# thresholds are the mean INTEGER score within each observed label (exact
# BIGINT sums, one double division), the confident joint counts documents
# whose score crosses the OTHER class's threshold, and the prune list is
# the top-10 most-confident suspects per direction (margin-ordered with
# unique doc tiebreaks — deterministic TakeOrdered, never a global sort).

_CL_TOPK = 10

_CL_ORACLE = """
WITH scores AS ({score_q}),
labels AS ({label_q}),
joined AS (
  SELECT s.doc_id, s.score_sum AS sc, CAST(l.passes_repetition AS BIGINT) AS y
  FROM scores s JOIN labels l ON s.doc_id = l.doc_id
), th AS (
  SELECT CAST(SUM(CASE WHEN y = 1 THEN sc END) AS DOUBLE)
           / CAST(SUM(CASE WHEN y = 1 THEN 1 END) AS DOUBLE) AS t1,
         CAST(SUM(CASE WHEN y = 0 THEN sc END) AS DOUBLE)
           / CAST(SUM(CASE WHEN y = 0 THEN 1 END) AS DOUBLE) AS t0
  FROM joined
), flags AS (
  SELECT j.doc_id, j.sc, j.y,
         CASE WHEN j.y = 0 AND CAST(j.sc AS DOUBLE) >= t.t1 THEN 1 ELSE 0 END AS f01,
         CASE WHEN j.y = 1 AND CAST(j.sc AS DOUBLE) <= t.t0 THEN 1 ELSE 0 END AS f10,
         CAST(j.sc AS DOUBLE) - t.t1 AS m01,
         t.t0 - CAST(j.sc AS DOUBLE) AS m10
  FROM joined j CROSS JOIN th t
), joint AS (
  SELECT CAST(SUM(f01) AS BIGINT) AS n_y0_hat1,
         CAST(SUM(f10) AS BIGINT) AS n_y1_hat0,
         CAST(SUM(CASE WHEN y = 0 AND f01 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_y0_hat0,
         CAST(SUM(CASE WHEN y = 1 AND f10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_y1_hat1
  FROM flags
), sus AS (
  SELECT 'flip_to_1' AS kind, doc_id, sc AS score_sum, m01 AS margin
  FROM flags WHERE f01 = 1 ORDER BY m01 DESC, doc_id ASC LIMIT {topk}
), sus0 AS (
  SELECT 'flip_to_0' AS kind, doc_id, sc AS score_sum, m10 AS margin
  FROM flags WHERE f10 = 1 ORDER BY m10 DESC, doc_id ASC LIMIT {topk}
)
SELECT u.kind, u.doc_id, u.score_sum, u.margin,
       j.n_y0_hat1, j.n_y1_hat0, j.n_y0_hat0, j.n_y1_hat1
FROM (SELECT * FROM sus UNION ALL SELECT * FROM sus0) u CROSS JOIN joint j
"""


@register(
    "docs_confident_learning_prune",
    oracle=None,  # composed below
    doc=f"confident-learning label-noise prune (binary cleanlab): exact "
    "integer per-class score thresholds, confident-joint counts, and the "
    f"top-{_CL_TOPK} most-confident suspects per flip direction with "
    "unique tiebreaks — the 'which labels should a human re-check' table.",
    tags=("pipeline", "scoring", "curation"),
)
def docs_confident_learning_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB: one score+label join, one moment aggregate (thresholds are
    2 scalars), one flag scan; prune lists are TakeOrdered top-k."""
    from f1_lakehouse_spark.pipeline.filtering import quality_gopher_repetition

    s = scoring_hashed_linear_quality(spark, sf_dir).select("doc_id", "score_sum")
    lab = quality_gopher_repetition(spark, sf_dir).select("doc_id", "passes_repetition")
    joined = s.join(lab, "doc_id").select(
        "doc_id",
        F.col("score_sum").alias("sc"),
        F.col("passes_repetition").cast("long").alias("y"),
    )
    th = joined.agg(
        (
            F.sum(F.when(F.col("y") == 1, F.col("sc"))).cast("double")
            / F.sum(F.when(F.col("y") == 1, 1)).cast("double")
        ).alias("t1"),
        (
            F.sum(F.when(F.col("y") == 0, F.col("sc"))).cast("double")
            / F.sum(F.when(F.col("y") == 0, 1)).cast("double")
        ).alias("t0"),
    )
    flags = joined.crossJoin(F.broadcast(th)).select(
        "doc_id",
        "sc",
        "y",
        F.when((F.col("y") == 0) & (F.col("sc").cast("double") >= F.col("t1")), 1)
        .otherwise(0)
        .alias("f01"),
        F.when((F.col("y") == 1) & (F.col("sc").cast("double") <= F.col("t0")), 1)
        .otherwise(0)
        .alias("f10"),
        (F.col("sc").cast("double") - F.col("t1")).alias("m01"),
        (F.col("t0") - F.col("sc").cast("double")).alias("m10"),
    )
    flags = flags.persist()
    flags.count()
    joint = flags.agg(
        F.sum("f01").cast("long").alias("n_y0_hat1"),
        F.sum("f10").cast("long").alias("n_y1_hat0"),
        F.sum(F.when((F.col("y") == 0) & (F.col("f01") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n_y0_hat0"),
        F.sum(F.when((F.col("y") == 1) & (F.col("f10") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n_y1_hat1"),
    )
    sus1 = (
        flags.where(F.col("f01") == 1)
        .orderBy(F.col("m01").desc(), F.col("doc_id").asc())
        .limit(_CL_TOPK)
        .select(
            F.lit("flip_to_1").alias("kind"),
            "doc_id",
            F.col("sc").alias("score_sum"),
            F.col("m01").alias("margin"),
        )
    )
    sus0 = (
        flags.where(F.col("f10") == 1)
        .orderBy(F.col("m10").desc(), F.col("doc_id").asc())
        .limit(_CL_TOPK)
        .select(
            F.lit("flip_to_0").alias("kind"),
            "doc_id",
            F.col("sc").alias("score_sum"),
            F.col("m10").alias("margin"),
        )
    )
    out = sus1.unionByName(sus0).crossJoin(F.broadcast(joint))
    out = pin_small_result(out, 2 * _CL_TOPK)
    flags.unpersist()
    return out


_REG["docs_confident_learning_prune"].oracle = _CL_ORACLE.format(
    score_q=_REG["scoring_hashed_linear_quality"].oracle,
    label_q=_REG["quality_gopher_repetition"].oracle,
    topk=_CL_TOPK,
)


# --- Brier score + Murphy decomposition -------------------------------------------------
# Probability-forecast quality for the binned quality score: treat each
# score bin's midpoint fraction (bin + 0.5)/NB as the forecast and the
# gopher gate as the outcome; Brier = REL - RES + UNC (Murphy). Every
# term is built from integer bin counts: Brier and the three components
# are folds of integer-ratio doubles over the NB-cell packed bin array —
# bit-exact cross-engine, and the decomposition identity is checkable by
# the reader from the emitted columns.

_BRIER_ORACLE = """
WITH scores AS ({score_q}),
labels AS ({label_q}),
joined AS (
  SELECT s.score_sum AS sc, CAST(l.passes_repetition AS BIGINT) AS y
  FROM scores s JOIN labels l ON s.doc_id = l.doc_id
), rng AS (
  SELECT MIN(sc) AS mn, MAX(sc) AS mx FROM joined
), binned AS (
  SELECT CAST((j.sc - r.mn) * {nb} // (r.mx - r.mn + 1) AS BIGINT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(j.y) AS BIGINT) AS pos
  FROM joined j CROSS JOIN rng r GROUP BY 1
), packed AS (
  SELECT list(struct_pack(b := bin, n := n, p := pos) ORDER BY bin) AS a,
         CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(pos) AS BIGINT) AS pt
  FROM binned
), terms AS (
  SELECT nt, pt,
         list_transform(a, g -> struct_pack(
           fc := (CAST(g.b AS DOUBLE) + 0.5) / {nb}.0,
           n := g.n, p := g.p,
           ob := CAST(g.p AS DOUBLE) / CAST(g.n AS DOUBLE))) AS t
  FROM packed
), sums AS (
  SELECT nt, pt,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(t, g -> CAST(g.n AS DOUBLE) * g.fc * g.fc
                                   - 2.0 * g.fc * CAST(g.p AS DOUBLE)
                                   + CAST(g.p AS DOUBLE))), (x, y) -> x + y) AS br,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(t, g -> CAST(g.n AS DOUBLE) * (g.fc - g.ob) * (g.fc - g.ob))), (x, y) -> x + y) AS rel,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(t, g -> CAST(g.n AS DOUBLE)
                                   * (g.ob - CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE))
                                   * (g.ob - CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE)))), (x, y) -> x + y) AS res
  FROM terms
)
SELECT nt AS n_docs, pt AS n_pos,
       br / CAST(nt AS DOUBLE) AS brier,
       rel / CAST(nt AS DOUBLE) AS reliability,
       res / CAST(nt AS DOUBLE) AS resolution,
       (CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE))
         * (1.0 - CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE)) AS uncertainty
FROM sums
"""


@register(
    "scoring_brier_decomposition",
    oracle=None,  # composed below
    doc=f"Brier score + Murphy decomposition (reliability / resolution / "
    f"uncertainty) of the {_ISO_BINS}-bin midpoint forecast vs the gopher "
    "gate — integer bin counts through ordered folds; the calibration "
    "readout that complements scoring_isotonic_calibration.",
    tags=("pipeline", "scoring", "calibration"),
)
def scoring_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same one-join one-aggregate shape as scoring_isotonic_calibration."""
    from f1_lakehouse_spark.pipeline.filtering import quality_gopher_repetition

    s = scoring_hashed_linear_quality(spark, sf_dir).select("doc_id", "score_sum")
    lab = quality_gopher_repetition(spark, sf_dir).select("doc_id", "passes_repetition")
    joined = s.join(lab, "doc_id").select(
        F.col("score_sum").alias("sc"),
        F.col("passes_repetition").cast("long").alias("y"),
    )
    rng = joined.agg(F.min("sc").alias("mn"), F.max("sc").alias("mx"))
    binned = (
        joined.crossJoin(F.broadcast(rng))
        .select(
            (
                (F.col("sc") - F.col("mn"))
                * _ISO_BINS
                / (F.col("mx") - F.col("mn") + 1)
            )
            .cast("long")
            .alias("bin"),
            "y",
        )
        .groupBy("bin")
        .agg(F.count("*").cast("long").alias("n"), F.sum("y").cast("long").alias("p"))
    )
    packed = binned.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("bin").alias("b"), "n", "p"))
        ).alias("a"),
        F.sum("n").cast("long").alias("nt"),
        F.sum("p").cast("long").alias("pt"),
    )
    obar = F.col("pt").cast("double") / F.col("nt").cast("double")
    fc = lambda g: (g["b"].cast("double") + 0.5) / F.lit(float(_ISO_BINS))  # noqa: E731
    ob = lambda g: g["p"].cast("double") / g["n"].cast("double")  # noqa: E731
    dz = F.lit(0.0)
    fsum = lambda arr: F.aggregate(arr, dz, lambda x, y: x + y)  # noqa: E731
    sums = packed.select(
        "nt",
        "pt",
        fsum(
            F.transform(
                "a",
                lambda g: g["n"].cast("double") * fc(g) * fc(g)
                - F.lit(2.0) * fc(g) * g["p"].cast("double")
                + g["p"].cast("double"),
            )
        ).alias("br"),
        fsum(
            F.transform(
                "a",
                lambda g: g["n"].cast("double") * (fc(g) - ob(g)) * (fc(g) - ob(g)),
            )
        ).alias("rel"),
        fsum(
            F.transform(
                "a",
                lambda g: g["n"].cast("double") * (ob(g) - obar) * (ob(g) - obar),
            )
        ).alias("res"),
    )
    nt = F.col("nt").cast("double")
    ob_all = F.col("pt").cast("double") / nt
    return sums.select(
        F.col("nt").alias("n_docs"),
        F.col("pt").alias("n_pos"),
        (F.col("br") / nt).alias("brier"),
        (F.col("rel") / nt).alias("reliability"),
        (F.col("res") / nt).alias("resolution"),
        (ob_all * (F.lit(1.0) - ob_all)).alias("uncertainty"),
    )


_REG["scoring_brier_decomposition"].oracle = _BRIER_ORACLE.format(
    score_q=_REG["scoring_hashed_linear_quality"].oracle,
    label_q=_REG["quality_gopher_repetition"].oracle,
    nb=_ISO_BINS,
)


# --- population stability index (score drift) ---------------------------------------
# The standard model-monitoring drift readout: PSI between a "reference"
# and a "current" score population over fixed bins,
#     PSI = sum_b (p_cur_b - p_ref_b) * ln(p_cur_b / p_ref_b).
# Populations are a salted hash split of the corpus (':psi' tag — the
# production shape is yesterday's scores vs today's); bins are the same
# integer-exact (sc - mn) * NB div (mx - mn + 1) scheme as the Brier /
# isotonic queries; +1 Laplace smoothing keeps every ln argument finite.
#
# Determinism: bin counts are integers; p's are single double divisions
# of < 2^53 integers; the per-bin ln() argument is the double ratio
# p_cur / p_ref computed by the identical operation sequence in both
# engines, and round(,9) absorbs the last ulp (BM25 idiom). Output is
# per-bin (bounded NB rows) so the reader sees WHERE the drift sits.
#
# Scale: one corpus scan for the scores (map-side fold), one broadcast
# min/max, one NB-row bin aggregate. The bin frame is pinned (model-sized)
# before its totals self-join.

_PSI_BINS = 10

_PSI_ORACLE = """
WITH scores AS ({score_q}),
split AS (
  SELECT score_sum AS sc, ({grp_hash}) % 2 AS grp FROM scores
),
rng AS (SELECT MIN(sc) AS mn, MAX(sc) AS mx FROM split),
binned AS (
  SELECT CAST((s.sc - r.mn) * {nb} // (r.mx - r.mn + 1) AS BIGINT) AS bin,
         CAST(SUM(CASE WHEN s.grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         CAST(SUM(CASE WHEN s.grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
  FROM split s CROSS JOIN rng r GROUP BY 1
),
tots AS (
  SELECT CAST(SUM(n_ref) AS BIGINT) AS nt_ref, CAST(SUM(n_cur) AS BIGINT) AS nt_cur
  FROM binned
)
SELECT b.bin, b.n_ref, b.n_cur,
       round(CAST(b.n_ref + 1 AS DOUBLE) / CAST(t.nt_ref + {nb} AS DOUBLE), 9) AS p_ref,
       round(CAST(b.n_cur + 1 AS DOUBLE) / CAST(t.nt_cur + {nb} AS DOUBLE), 9) AS p_cur,
       round((CAST(b.n_cur + 1 AS DOUBLE) / CAST(t.nt_cur + {nb} AS DOUBLE)
              - CAST(b.n_ref + 1 AS DOUBLE) / CAST(t.nt_ref + {nb} AS DOUBLE))
             * ln((CAST(b.n_cur + 1 AS DOUBLE) / CAST(t.nt_cur + {nb} AS DOUBLE))
                  / (CAST(b.n_ref + 1 AS DOUBLE) / CAST(t.nt_ref + {nb} AS DOUBLE))), 9)
         AS psi_term
FROM binned b CROSS JOIN tots t
"""


@register(
    "scoring_psi_drift",
    oracle=None,  # composed below
    doc=f"population stability index of the hashed-linear quality score "
    f"between a salted-hash reference/current split over {_PSI_BINS} "
    "integer-exact bins (+1 Laplace smoothing): the standard score-drift "
    "monitor, emitted per bin so the drift location is visible; one "
    "corpus scan, model-sized bin frame pinned before its totals join",
    tags=("pipeline", "scoring", "drift"),
)
def scoring_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = scoring_hashed_linear_quality(spark, sf_dir).select(
        F.col("score_sum").alias("sc"),
        (spark_salted_hash("doc_id", ":psi") % 2).alias("grp"),
    )
    rng = s.agg(F.min("sc").alias("mn"), F.max("sc").alias("mx"))
    binned = (
        s.crossJoin(F.broadcast(rng))
        .select(
            ((F.col("sc") - F.col("mn")) * _PSI_BINS / (F.col("mx") - F.col("mn") + 1))
            .cast("long")
            .alias("bin"),
            "grp",
        )
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_ref"),
            F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_cur"),
        )
    )
    binned = pin_small_result(binned, _PSI_BINS)
    tots = binned.agg(
        F.sum("n_ref").cast("long").alias("nt_ref"),
        F.sum("n_cur").cast("long").alias("nt_cur"),
    )
    nb = F.lit(_PSI_BINS)
    p_ref = (F.col("n_ref") + 1).cast("double") / (F.col("nt_ref") + nb).cast("double")
    p_cur = (F.col("n_cur") + 1).cast("double") / (F.col("nt_cur") + nb).cast("double")
    return binned.crossJoin(F.broadcast(tots)).select(
        "bin",
        "n_ref",
        "n_cur",
        F.round(p_ref, 9).alias("p_ref"),
        F.round(p_cur, 9).alias("p_cur"),
        F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 9).alias("psi_term"),
    )


_REG["scoring_psi_drift"].oracle = _PSI_ORACLE.format(
    score_q=_REG["scoring_hashed_linear_quality"].oracle,
    grp_hash=sql_salted_hash("doc_id", ":psi"),
    nb=_PSI_BINS,
)


# --- Youden-J optimal classification threshold --------------------------------------
# The standard operating-point readout for a quality classifier: the score
# cut t* maximizing J(t) = TPR(t) - FPR(t) against the gopher gate. Over
# distinct score values (an AGGREGATED frame) the argmax of J equals the
# argmax of the EXACT integer statistic
#     S(t) = sum_{sc >= t} [ npos*N - (n - npos)*P ]
# (multiply out the P*N denominator), so the scan order, the cumulative
# sum, and the argmax are all integer/decimal-exact — no float compare
# decides the winner. The cumulative S runs through the distributed
# global_prefix_sum (never a single-partition window); decimal products
# use (18,0) operands (p1+p2+1 <= 38 keeps Spark exact; the oracle widens
# to DuckDB int128 per the engine-trap rule). Emitted rates are single
# double divisions of < 2^53 integers.

_YJ_ORACLE = """
WITH scores AS ({score_q}),
labels AS ({label_q}),
joined AS (
  SELECT s.score_sum AS sc, CAST(l.passes_repetition AS BIGINT) AS y
  FROM scores s JOIN labels l ON s.doc_id = l.doc_id
),
byscore AS (
  SELECT sc, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS npos
  FROM joined GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(npos) AS BIGINT) AS p,
         CAST(SUM(n) - SUM(npos) AS BIGINT) AS nn
  FROM byscore
),
cums AS (
  SELECT b.sc,
         SUM(CAST(b.npos AS DECIMAL(19,0)) * CAST(t.nn AS DECIMAL(19,0))
             - CAST(b.n - b.npos AS DECIMAL(19,0)) * CAST(t.p AS DECIMAL(19,0)))
           OVER (ORDER BY b.sc DESC) AS cum
  FROM byscore b CROSS JOIN tot t
),
best AS (SELECT sc FROM cums ORDER BY cum DESC, sc ASC LIMIT 1),
agg AS (
  SELECT CAST(SUM(CASE WHEN b.sc >= x.sc THEN b.npos ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN b.sc >= x.sc THEN b.n - b.npos ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(b.npos) AS BIGINT) AS p,
         CAST(SUM(b.n - b.npos) AS BIGINT) AS nn,
         MIN(x.sc) AS threshold
  FROM byscore b CROSS JOIN best x
)
SELECT threshold, tp, fp, p - tp AS fn, nn - fp AS tn,
       round(CAST(tp AS DOUBLE) / CAST(p AS DOUBLE), 9) AS tpr,
       round(CAST(fp AS DOUBLE) / CAST(nn AS DOUBLE), 9) AS fpr,
       round(CAST(tp AS DOUBLE) / CAST(p AS DOUBLE)
             - CAST(fp AS DOUBLE) / CAST(nn AS DOUBLE), 9) AS youden_j
FROM agg
"""


@register(
    "scoring_youden_j_threshold",
    oracle=None,  # composed below
    doc="Youden-J optimal threshold for the hashed-linear quality score "
    "vs the gopher gate: argmax of the integer-exact statistic "
    "npos*N - nneg*P cumulated over distinct scores (distributed prefix "
    "sum, decimal-exact argmax — no float compare picks the winner); "
    "emits the full confusion matrix and rates at t*",
    tags=("pipeline", "scoring", "calibration"),
)
def scoring_youden_j_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_lakehouse_spark.operators.extensions import (  # noqa: PLC0415
        global_prefix_sum,
    )
    from f1_lakehouse_spark.pipeline.filtering import (  # noqa: PLC0415
        quality_gopher_repetition,
    )

    s = scoring_hashed_linear_quality(spark, sf_dir).select("doc_id", "score_sum")
    lab = quality_gopher_repetition(spark, sf_dir).select("doc_id", "passes_repetition")
    joined = s.join(lab, "doc_id").select(
        F.col("score_sum").alias("sc"),
        F.col("passes_repetition").cast("long").alias("y"),
    )
    byscore = joined.groupBy("sc").agg(
        F.count("*").cast("long").alias("n"), F.sum("y").cast("long").alias("npos")
    )
    byscore = byscore.persist()
    byscore.count()  # three derived uses: totals, prefix input, final agg
    tot = byscore.agg(
        F.sum("npos").cast("long").alias("p"),
        (F.sum("n") - F.sum("npos")).cast("long").alias("nn"),
    )
    d18 = lambda c: c.cast("decimal(18,0)")  # noqa: E731
    signed = byscore.crossJoin(F.broadcast(tot)).select(
        "sc",
        (
            d18(F.col("npos")) * d18(F.col("nn"))
            - d18(F.col("n") - F.col("npos")) * d18(F.col("p"))
        )
        .cast("decimal(38,0)")
        .alias("m"),
    )
    ranked, release, _tot = global_prefix_sum(spark, signed, "m", [F.col("sc").desc()])
    best = ranked.orderBy(F.col("cum").desc(), F.col("sc").asc()).limit(1).select("sc")
    agg = byscore.crossJoin(F.broadcast(best.withColumnRenamed("sc", "t"))).agg(
        F.sum(F.when(F.col("sc") >= F.col("t"), F.col("npos")).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(
            F.when(F.col("sc") >= F.col("t"), F.col("n") - F.col("npos")).otherwise(0)
        )
        .cast("long")
        .alias("fp"),
        F.sum("npos").cast("long").alias("p"),
        (F.sum("n") - F.sum("npos")).cast("long").alias("nn"),
        F.min("t").alias("threshold"),
    )
    tp_d = F.col("tp").cast("double") / F.col("p").cast("double")
    fp_d = F.col("fp").cast("double") / F.col("nn").cast("double")
    out = agg.select(
        "threshold",
        "tp",
        "fp",
        (F.col("p") - F.col("tp")).alias("fn"),
        (F.col("nn") - F.col("fp")).alias("tn"),
        F.round(tp_d, 9).alias("tpr"),
        F.round(fp_d, 9).alias("fpr"),
        F.round(tp_d - fp_d, 9).alias("youden_j"),
    )
    out = pin_small_result(out, 1)
    release()
    byscore.unpersist()
    return out


_REG["scoring_youden_j_threshold"].oracle = _YJ_ORACLE.format(
    score_q=_REG["scoring_hashed_linear_quality"].oracle,
    label_q=_REG["quality_gopher_repetition"].oracle,
)


# --- Platt scaling (sigmoid calibration) ---------------------------------------------
# The third classical calibration method next to isotonic and Brier:
# fit p = sigmoid(A*s + B) by penalized MLE (Platt 1999 / Lin-Weng-Weng
# targets t+ = (Np+1)/(Np+2), t- = 1/(Nn+2)) with EIGHT fixed Newton
# steps over the 20-bin sufficient statistics. The iteration state [A, B]
# is a homogeneous DOUBLE-list fold accumulator (the orders_holt_forecast
# pattern — exact in both engines); each step's gradient/Hessian sums are
# nested folds over the bounded bin array in bin order; the 2x2 Newton
# solve is fixed-order double arithmetic. Newton is contractive near the
# optimum, so the last-ulp exp() divergence between libms damps instead
# of amplifying; round(,9) absorbs the remainder (BM25 idiom).

_PLATT_ITERS = 8
_PLATT_RIDGE = 1e-10  # fixed Hessian ridge, identical in both engines

_PLATT_ORACLE_TMPL = """
WITH scores AS ({score_q}),
labels AS ({label_q}),
joined AS (
  SELECT s.score_sum AS sc, CAST(l.passes_repetition AS BIGINT) AS y
  FROM scores s JOIN labels l ON s.doc_id = l.doc_id
), rng AS (
  SELECT MIN(sc) AS mn, MAX(sc) AS mx FROM joined
), binned AS (
  SELECT CAST((j.sc - r.mn) * {nb} // (r.mx - r.mn + 1) AS BIGINT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(j.y) AS BIGINT) AS pos
  FROM joined j CROSS JOIN rng r GROUP BY 1
), packed AS (
  SELECT list(struct_pack(
           x := (CAST(bin AS DOUBLE) + 0.5) / {nb}.0,
           np := CAST(pos AS DOUBLE),
           nn := CAST(n - pos AS DOUBLE)) ORDER BY bin) AS pts,
         CAST(SUM(pos) AS BIGINT) AS n_pos,
         CAST(SUM(n) - SUM(pos) AS BIGINT) AS n_neg,
         CAST(COUNT(*) AS BIGINT) AS n_bins
  FROM binned
), fitted AS (
  SELECT n_pos, n_neg, n_bins,
    list_reduce(
      list_prepend(
        [CAST(0.0 AS DOUBLE),
         ln((CAST(n_pos AS DOUBLE) + CAST(1.0 AS DOUBLE))
            / (CAST(n_neg AS DOUBLE) + CAST(1.0 AS DOUBLE)))],
        list_transform(generate_series(1, {iters}),
                       i -> [CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)])),
      (acc, e) -> {step}
    ) AS ab
  FROM packed
)
SELECT n_pos, n_neg, n_bins,
       round(ab[1], 9) AS a_coef,
       round(ab[2], 9) AS b_coef,
       round(CAST(1.0 AS DOUBLE)
             / (CAST(1.0 AS DOUBLE) + exp(-(ab[1] * CAST(0.5 AS DOUBLE) + ab[2]))),
             9) AS p_mid
FROM fitted
"""


def _platt_sql_step() -> str:
    """One Newton step in DuckDB SQL: acc = [A, B] -> [A', B']."""
    tpos = "((CAST(n_pos AS DOUBLE) + 1.0) / (CAST(n_pos AS DOUBLE) + 2.0))"
    tneg = "(1.0 / (CAST(n_neg AS DOUBLE) + 2.0))"
    p = "(1.0 / (1.0 + exp(-(acc[1] * g.x + acc[2]))))"
    d = f"(g.np * ({p} - {tpos}) + g.nn * ({p} - {tneg}))"
    w = f"((g.np + g.nn) * {p} * (1.0 - {p}))"

    def fold(term: str) -> str:
        return (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(pts, g -> {term})), (s, v) -> s + v)"
        )

    g1, g2 = fold(f"g.x * {d}"), fold(d)
    h11 = f"({fold(f'g.x * g.x * {w}')} + {_PLATT_RIDGE!r})"
    h12 = fold(f"g.x * {w}")
    h22 = f"({fold(w)} + {_PLATT_RIDGE!r})"
    det = f"({h11} * {h22} - {h12} * {h12})"
    return (
        f"[acc[1] - ({h22} * {g1} - {h12} * {g2}) / {det}, "
        f"acc[2] - ({h11} * {g2} - {h12} * {g1}) / {det}]"
    )


@register(
    "scoring_platt_scaling",
    oracle=None,  # composed below
    doc=f"Platt sigmoid calibration of the hashed-linear quality score vs "
    f"the gopher gate: {_PLATT_ITERS} fixed Newton steps on the "
    f"{_ISO_BINS}-bin sufficient statistics, [A,B] as a DOUBLE-list fold "
    "accumulator (exact in both engines), Lin-Weng targets; emits the "
    "fitted coefficients and the calibrated mid-score probability",
    tags=("pipeline", "scoring", "calibration"),
)
def scoring_platt_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_lakehouse_spark.pipeline.filtering import (  # noqa: PLC0415
        quality_gopher_repetition,
    )

    s = scoring_hashed_linear_quality(spark, sf_dir).select("doc_id", "score_sum")
    lab = quality_gopher_repetition(spark, sf_dir).select("doc_id", "passes_repetition")
    joined = s.join(lab, "doc_id").select(
        F.col("score_sum").alias("sc"),
        F.col("passes_repetition").cast("long").alias("y"),
    )
    rng = joined.agg(F.min("sc").alias("mn"), F.max("sc").alias("mx"))
    binned = (
        joined.crossJoin(F.broadcast(rng))
        .select(
            ((F.col("sc") - F.col("mn")) * _ISO_BINS / (F.col("mx") - F.col("mn") + 1))
            .cast("long")
            .alias("bin"),
            "y",
        )
        .groupBy("bin")
        .agg(F.count("*").cast("long").alias("n"), F.sum("y").cast("long").alias("pos"))
    )
    packed = binned.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("bin").alias("b"), "n", "pos"))
        ).alias("raw"),
        F.sum("pos").cast("long").alias("n_pos"),
        (F.sum("n") - F.sum("pos")).cast("long").alias("n_neg"),
        F.count("*").cast("long").alias("n_bins"),
    ).select(
        F.transform(
            "raw",
            lambda g: F.struct(
                ((g["b"].cast("double") + F.lit(0.5)) / F.lit(float(_ISO_BINS))).alias(
                    "x"
                ),
                g["pos"].cast("double").alias("np"),
                (g["n"] - g["pos"]).cast("double").alias("nn"),
            ),
        ).alias("pts"),
        "n_pos",
        "n_neg",
        "n_bins",
    )
    np_d = F.col("n_pos").cast("double")
    nn_d = F.col("n_neg").cast("double")
    tpos = (np_d + F.lit(1.0)) / (np_d + F.lit(2.0))
    tneg = F.lit(1.0) / (nn_d + F.lit(2.0))

    def step(acc):
        a_c, b_c = F.element_at(acc, 1), F.element_at(acc, 2)

        def p(g):
            return F.lit(1.0) / (F.lit(1.0) + F.exp(-(a_c * g["x"] + b_c)))

        def fold(term):
            return F.aggregate(
                F.transform("pts", term), F.lit(0.0), lambda s2, v: s2 + v
            )

        d = lambda g: g["np"] * (p(g) - tpos) + g["nn"] * (p(g) - tneg)  # noqa: E731
        w = lambda g: (g["np"] + g["nn"]) * p(g) * (F.lit(1.0) - p(g))  # noqa: E731
        g1 = fold(lambda g: g["x"] * d(g))
        g2 = fold(lambda g: d(g))
        h11 = fold(lambda g: g["x"] * g["x"] * w(g)) + F.lit(_PLATT_RIDGE)
        h12 = fold(lambda g: g["x"] * w(g))
        h22 = fold(lambda g: w(g)) + F.lit(_PLATT_RIDGE)
        det = h11 * h22 - h12 * h12
        return F.array(
            a_c - (h22 * g1 - h12 * g2) / det,
            b_c - (h11 * g2 - h12 * g1) / det,
        )

    init = F.array(
        F.lit(0.0),
        F.log((np_d + F.lit(1.0)) / (nn_d + F.lit(1.0))),
    )
    ab = F.aggregate(
        F.sequence(F.lit(1), F.lit(_PLATT_ITERS)),
        init,
        lambda acc, _i: step(acc),
    )
    fitted = packed.select("n_pos", "n_neg", "n_bins", ab.alias("ab"))
    a1 = F.element_at("ab", 1)
    b1 = F.element_at("ab", 2)
    return fitted.select(
        "n_pos",
        "n_neg",
        "n_bins",
        F.round(a1, 9).alias("a_coef"),
        F.round(b1, 9).alias("b_coef"),
        F.round(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-(a1 * F.lit(0.5) + b1))), 9
        ).alias("p_mid"),
    )


_REG["scoring_platt_scaling"].oracle = _PLATT_ORACLE_TMPL.format(
    score_q=_REG["scoring_hashed_linear_quality"].oracle,
    label_q=_REG["quality_gopher_repetition"].oracle,
    nb=_ISO_BINS,
    iters=_PLATT_ITERS,
    step=_platt_sql_step(),
)
