"""Deduplication operators over ``documents`` / ``embeddings``:

- exact (content-hash groupBy)
- n-gram Jaccard (shingle join + set-overlap)
- MinHash + LSH banding (signature → band buckets → candidate pairs)
- SimHash (bitwise near-dup sketch + hamming filter)
- embedding-cosine near-dup pairs

Everything is deterministic integer / left-fold arithmetic (see
``pipeline.hashing``), so each operator has an exact DuckDB oracle.

Scale design (the actual point — these shapes survive 100 TB):
- shingle explosion is map-side; the only shuffles are groupBy(shingle/band)
  — both keys hash-distribute evenly because they're already hashes.
- candidate generation is LSH-bucketed: the quadratic all-pairs join is
  confined to same-bucket groups (banding), never the full corpus.
- self-joins carry ``doc_a < doc_b`` so each pair materializes once.
- hot buckets (boilerplate shingles) are the classic skew source: the
  Jaccard path drops shingles shared by > MAX_DF docs (stopword-shingle
  cap), the standard MinHashLSH mitigation; AQE skew-join handles the rest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from f1_lakehouse_spark.pipeline.hashing import (
    BAND_POWERS,
    BAND_SIZE,
    MINHASH_PARAMS,
    MOD,
    spark_md5_hash48,
    spark_poly_hash,
    sql_md5_hash48,
    sql_poly_hash,
)
from f1_lakehouse_spark.registry import REGISTRY, register
from f1_lakehouse_spark.tables import cached_per_input, load_table

SHINGLE_WORDS = 3
JACCARD_THRESHOLD = 0.35
# ABSOLUTE document-frequency cap per shingle (not a corpus fraction): a
# shingle shared by more than MAX_DF docs is boilerplate and generates
# O(df^2) candidate pairs — at 10^9 docs a fractional cap would still admit
# a 0.4N-doc shingle and explode. 256 bounds every shingle's pair fan-out to
# ~32k regardless of corpus size.
MAX_DF = 256


def _pair_arrays(ds):
    """All i<j ordered pairs of a (sorted) doc-id array, generated inside
    the array — the bucket-local candidate generator shared by the Jaccard,
    edit-distance, prefix-filter and containment paths. The only pair-sized
    shuffle downstream is the (doc_a, doc_b) aggregate, bounded by the df
    cap of the bucket the array came from."""
    return F.flatten(
        F.transform(
            ds,
            lambda x, i: F.transform(
                F.slice(ds, i + F.lit(2), F.size(ds)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )



# --- shared shingle-key builders (Spark + SQL twins) -----------------------------
# A word-3-gram shingle is keyed by combining the three words' md5-derived
# hashes with exact int64 arithmetic — building the shingle STRINGS costs
# ~4x more than everything else in the MinHash pipeline (measured), and the
# key quality is equivalent. P is Knuth's multiplicative constant; every
# intermediate stays < 1e9*2.7e9 < 2^63.

_P = 2_654_435_761


def _spark_shingle_keys(
    d: DataFrame, distinct: bool = True, key: str = "doc_id"
) -> DataFrame:
    """(key, sk) 64-bit word-3-gram keys; ``distinct=False`` skips the
    dedup shuffle for consumers whose aggregate is duplicate-insensitive
    (MIN). ``key`` lets corpus-level consumers shingle per ``source``
    instead of per document."""
    # materialize the word-hash array as a real column FIRST: referencing a
    # raw `transform(...)` expression from element_at would re-evaluate the
    # whole md5 map per lookup (O(words^2) hashing per row)
    hashed = d.select(
        key,
        F.transform(
            F.split("text", " "),
            lambda w: F.conv(F.substring(F.md5(w), 1, 12), 16, 10).cast("long")
            % F.lit(MOD),
        ).alias("hs"),
    )
    hs = F.col("hs")

    def combine(i):  # i is 0-based; element_at is 1-based
        h1 = F.element_at(hs, i + F.lit(1))
        h2 = F.element_at(hs, i + F.lit(2))
        h3 = F.element_at(hs, i + F.lit(3))
        return (((h1 * _P + h2) % F.lit(MOD)) * _P + h3) % F.lit(MOD)

    keys = F.transform(F.sequence(F.lit(0), F.size(hs) - F.lit(SHINGLE_WORDS)), combine)
    # Spark sequence(0, n) runs DESCENDING when n < 0 (doc shorter than the
    # shingle width) — guard to an empty array like generate_series does.
    keys = F.when(F.size(hs) >= SHINGLE_WORDS, keys).otherwise(
        F.array().cast("array<long>")
    )
    out = hashed.select(key, F.explode(keys).alias("sk"))
    return out.distinct() if distinct else out


_SQL_SHINGLE_KEYS = f"""
    SELECT DISTINCT doc_id, sk FROM (
        SELECT doc_id,
               unnest([(((hs[i] * {_P} + hs[i+1]) % {MOD}) * {_P} + hs[i+2]) % {MOD}
                       FOR i IN generate_series(1, len(hs) - {SHINGLE_WORDS - 1})])
                   AS sk
        FROM (SELECT doc_id,
                     list_transform(string_split(text, ' '),
                         w -> CAST(('0x' || substr(md5(w), 1, 12)) AS BIGINT) % {MOD})
                         AS hs
              FROM documents)
    )
"""


# Shared distinct shingle frame: five registered dedup queries (ngram
# jaccard, LSH candidate recall's truth arm, edit distance, jaccard
# prefix filter, containment) all start from the identical distinct
# (doc_id, sk) 3-gram frame — a corpus scan + per-word md5 + explode +
# DISTINCT shuffle each time. One persisted entry per (session, input)
# (tables.cached_per_input; never unpersisted inside a query fn).
@cached_per_input("documents")
def shingle_keys_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    shk = _spark_shingle_keys(load_table(spark, sf_dir, "documents")).persist()
    shk.count()
    return shk



# --- exact dedup -----------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
SELECT md5(text) AS content_hash,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_copies
FROM documents GROUP BY 1
""",
    doc="exact dedup: md5 content-hash groupBy, keep lowest doc_id per group",
    tags=("pipeline", "dedup"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5("text").alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


# --- n-gram Jaccard dedup ----------------------------------------------------------


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH shk AS ({_SQL_SHINGLE_KEYS}),
df AS (
    SELECT sk, COUNT(*) AS df FROM shk GROUP BY 1
),
sh_f AS (
    SELECT shk.doc_id, shk.sk
    FROM shk JOIN df USING (sk)
    WHERE df.df <= {MAX_DF}
),
sizes AS (
    SELECT doc_id, COUNT(*) AS sz FROM sh_f GROUP BY 1
),
common AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
    FROM sh_f a JOIN sh_f b ON a.sk = b.sk AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b,
       CAST(c.n_common AS DOUBLE) / (sa.sz + sb.sz - c.n_common) AS jaccard
FROM common c
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
WHERE CAST(c.n_common AS DOUBLE) / (sa.sz + sb.sz - c.n_common) >= {JACCARD_THRESHOLD}
""",
    doc="near-dup pairs by word-3-gram Jaccard (shingle join, df-capped)",
    tags=("pipeline", "dedup", "jaccard"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        shk=shingle_keys_frame(spark, sf_dir),
    )


def jaccard_pairs(d: DataFrame, shk: DataFrame | None = None) -> DataFrame:
    """Core Jaccard near-dup pass over any (doc_id, text) frame.

    One ``groupBy(sk)`` collects each shingle's (sorted, distinct) doc list
    AND applies the ABSOLUTE df cap as a post-aggregation size filter — no
    separate df table, no join back, and no double shuffle of the shingle
    rows for a self-join. Candidate pairs are generated array-side from the
    doc list (i<j combinations), so the only pair-sized shuffle is the final
    (doc_a, doc_b) count, bounded at MAX_DF^2/2 pairs per shingle
    independent of corpus size. Per-doc sizes are |docs| rows → broadcast.
    """
    shk = _spark_shingle_keys(d) if shk is None else shk
    ds = F.col("ds")
    grouped = (
        shk.groupBy("sk")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        # df cap == doc-list size cap (shk is distinct per (doc_id, sk))
        .filter(F.size(ds) <= MAX_DF)
        # pair lists + sizes both explode this frame; persist + materialize
        .persist()
    )
    grouped.count()
    # sizes AFTER the df cap, as before: explode the capped doc lists
    sizes = (
        grouped.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("sz"))
    )
    # all i<j pairs of the sorted doc list, generated inside the array
    pair_arrays = _pair_arrays(ds)
    common = (
        grouped.select(F.explode(pair_arrays).alias("p"))
        .groupBy(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jaccard = F.col("n_common").cast("double") / (
        F.col("sa.sz") + F.col("sb.sz") - F.col("n_common")
    )
    out = (
        common.join(F.broadcast(sa), F.col("sa.doc_id") == F.col("doc_a"))
        .join(F.broadcast(sb), F.col("sb.doc_id") == F.col("doc_b"))
        .select("doc_a", "doc_b", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    # materialize the (small) pair list, then release the doc-list cache —
    # otherwise it lingers in executor memory for the session's lifetime
    out = out.persist()
    out.count()
    grouped.unpersist()
    return out


# --- edit-distance near-dup (q-gram filter -> levenshtein verify) --------------------
# The string-similarity-join recipe (count-filter + verify, cf. the
# PPJoin/AllPairs family): candidates must share >= EDIT_MIN_COMMON word
# shingles (sub-quadratic, same capped shingle index as Jaccard), and only
# candidates pay the O(len^2) exact levenshtein. A pair is a duplicate when
# edit distance <= 30% of the longer doc. Distinct metric from Jaccard:
# order-sensitive, catches small in-place edits Jaccard over-penalizes.

EDIT_MIN_COMMON = 3
EDIT_REL_THRESHOLD = 0.30


@register(
    "dedup_edit_distance",
    oracle=f"""
WITH shk AS ({_SQL_SHINGLE_KEYS}),
df AS (
    SELECT sk, COUNT(*) AS df FROM shk GROUP BY 1
),
sh_f AS (
    SELECT shk.doc_id, shk.sk FROM shk JOIN df USING (sk)
    WHERE df.df <= {MAX_DF}
),
cand AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
    FROM sh_f a JOIN sh_f b ON a.sk = b.sk AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= {EDIT_MIN_COMMON}
)
SELECT c.doc_a, c.doc_b, c.n_common,
       CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_distance,
       CASE WHEN levenshtein(ta.text, tb.text)
                 <= {EDIT_REL_THRESHOLD} * greatest(length(ta.text), length(tb.text))
            THEN 1 ELSE 0 END AS is_dup
FROM cand c
JOIN documents ta ON ta.doc_id = c.doc_a
JOIN documents tb ON tb.doc_id = c.doc_b
""",
    doc=f"edit-distance near-dup: candidates share >= {EDIT_MIN_COMMON} "
    "capped shingles (sub-quadratic q-gram count filter), then exact "
    "levenshtein verifies only candidates; dup when distance <= "
    f"{EDIT_REL_THRESHOLD:.0%} of the longer text",
    tags=("pipeline", "dedup", "edit-distance"),
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    shk = shingle_keys_frame(spark, sf_dir)
    ds = F.col("ds")
    grouped = (
        shk.groupBy("sk")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size(ds) <= MAX_DF)
    )
    pair_arrays = _pair_arrays(ds)
    cand = (
        grouped.select(F.explode(pair_arrays).alias("p"))
        .groupBy(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
        .filter(F.col("n_common") >= EDIT_MIN_COMMON)
    )
    ta = d.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    tb = d.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    dist = F.levenshtein("text_a", "text_b")
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            dist.cast("long").alias("edit_distance"),
            F.when(
                dist
                <= EDIT_REL_THRESHOLD
                * F.greatest(F.length("text_a"), F.length("text_b")),
                1,
            )
            .otherwise(0)
            .alias("is_dup"),
        )
    )


# --- MinHash + LSH banding -----------------------------------------------------------

_PARAMS_SQL = ", ".join(f"({i}, {a}, {b})" for i, a, b in MINHASH_PARAMS)
_POWERS_SQL = ", ".join(f"({k}, {p})" for k, p in enumerate(BAND_POWERS))


# the shingle→minhash→band CTE chain, shared by the self-join pair oracle
# below and the incremental new-vs-corpus oracle (pipeline/incremental.py)
_SQL_BAND_CTES = f"""shh AS (
    SELECT doc_id, sk AS x FROM ({_SQL_SHINGLE_KEYS})
),
params AS (SELECT * FROM (VALUES {_PARAMS_SQL}) t(i, a, b)),
mh AS (
    SELECT doc_id, i, MIN((a * x + b) % {MOD}) AS m
    FROM shh, params GROUP BY 1, 2
),
powers AS (SELECT * FROM (VALUES {_POWERS_SQL}) t(k, pw)),
bands AS (
    SELECT doc_id, i // {BAND_SIZE} AS band,
           SUM(m * pw) AS band_hash
    FROM mh JOIN powers ON powers.k = i % {BAND_SIZE}
    GROUP BY 1, 2
)"""

_MINHASH_PAIRS_SQL = f"""
WITH {_SQL_BAND_CTES}
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a
JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
            AND a.doc_id < b.doc_id
"""

# public alias: the candidate-pair SQL is reused by text_rouge_l_candidates
MINHASH_PAIRS_SQL = _MINHASH_PAIRS_SQL



@register(
    "dedup_minhash_lsh",
    oracle=_MINHASH_PAIRS_SQL,
    doc="MinHash(16) + LSH(4x4 bands) candidate pairs",
    tags=("pipeline", "dedup", "minhash"),
)
@cached_per_input("documents")
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shared (session, input)-keyed persisted cache: the candidate pair
    # list is consumed by clusters / keep_list / candidate_recall too,
    # and is tiny (bucket-bounded) while its lineage is a full corpus
    # md5+minhash pass.
    # r11: build the bands from the session-cached distinct shingle frame
    # (identical minima — MIN is duplicate-insensitive, and the oracle's
    # band CTEs read the DISTINCT shingle CTE) so the corpus is word-hashed
    # once per session for the whole dedup family, not once per cache.
    pairs = minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        shh=shingle_keys_frame(spark, sf_dir).select(
            "doc_id", F.col("sk").alias("x")
        ),
    )
    # minhash_lsh_pairs persists+materializes internally; only add our own
    # persist if a future refactor drops that, so the rollover unpersist
    # always releases the frame this cache actually pinned
    if not pairs.is_cached:
        pairs = pairs.persist()
        pairs.count()
    return pairs


def minhash_band_signatures(shh: DataFrame) -> DataFrame:
    """(doc_id, band, band_hash) LSH band signatures from a (doc_id, x)
    shingle-key frame — the materializable dedup index (cf. the incremental
    new-vs-corpus join in pipeline/incremental.py).

    All 16 minhashes in ONE hash-aggregate (no 16x row blowup / second
    shuffle): min_i((a_i*x + b_i) % MOD) as 16 columns; band hash is an
    order-independent weighted sum of the band's 4 minhashes, and the 4
    bands explode into rows only after the aggregate.
    """
    mh = shh.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("x") + F.lit(b)) % F.lit(MOD)).alias(f"m{i}")
            for i, a, b in MINHASH_PARAMS
        ]
    )
    band_structs = [
        F.struct(
            F.lit(band).alias("band"),
            sum(
                (F.col(f"m{band * BAND_SIZE + k}") * F.lit(BAND_POWERS[k]))
                for k in range(BAND_SIZE)
            ).alias("band_hash"),
        )
        for band in range(len(MINHASH_PARAMS) // BAND_SIZE)
    ]
    return mh.select("doc_id", F.explode(F.array(*band_structs)).alias("bs")).select(
        "doc_id",
        F.col("bs.band").alias("band"),
        F.col("bs.band_hash").alias("band_hash"),
    )


def minhash_lsh_pairs(d: DataFrame, shh: DataFrame | None = None) -> DataFrame:
    """Core MinHash-LSH candidate pass over any (doc_id, text) frame.

    ``shh`` lets a caller share an already-computed (doc_id, x) shingle-key
    frame (the md5 word hashing dominates the map side; the verified
    pipeline computes it once for both candidate generation and verify).
    """
    # MIN is duplicate-insensitive → no distinct shuffle needed (the oracle
    # keeps DISTINCT; the minima are identical either way)
    if shh is None:
        shh = _spark_shingle_keys(d, distinct=False).select(
            "doc_id", F.col("sk").alias("x")
        )
    bands = (
        minhash_band_signatures(shh)
        # tiny (4 rows/doc); persist so the self-join doesn't recompute the
        # shingle+hash+aggregate pipeline once per side
        .persist()
    )
    bands.count()  # materialize the cache BEFORE both join sides read it
    a = bands.alias("a")
    b = bands.alias("b")
    out = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # materialize the (small) candidate list, then release the band cache
    out = out.persist()
    out.count()
    bands.unpersist()
    return out


# --- SimHash ---------------------------------------------------------------------------

_SIMHASH_BITS = 32
_BITS_SQL = ", ".join(f"({b}, {1 << b})" for b in range(_SIMHASH_BITS))

# Column-tree memo for the 32 vote aggregates + the final recombine (r11):
# ~260 py4j round-trips per build otherwise; the trees are context-free
# (fixed input names "x"/"s{bit}") so one copy serves every call.
_SIMHASH_COLS: list = []


def _simhash_cols():
    if not _SIMHASH_COLS:
        votes = [
            F.sum(
                F.when(
                    F.shiftright(F.col("x"), bit).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"s{bit}")
            for bit in range(_SIMHASH_BITS)
        ]
        recombine = sum(
            F.when(F.col(f"s{bit}") >= 0, F.lit(1 << bit))
            .otherwise(F.lit(0))
            .cast("long")
            for bit in range(_SIMHASH_BITS)
        )
        _SIMHASH_COLS.append((votes, recombine))
    return _SIMHASH_COLS[0]


@register(
    "dedup_simhash",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
th AS (
    SELECT doc_id, {sql_md5_hash48("w")} % {MOD} AS x FROM toks
),
bits AS (SELECT * FROM (VALUES {_BITS_SQL}) t(b, pw)),
contrib AS (
    SELECT doc_id, b, pw,
           SUM(CASE WHEN (x // pw) % 2 = 1 THEN 1 ELSE -1 END) AS s
    FROM th, bits GROUP BY 1, 2, 3
)
SELECT doc_id,
       CAST(SUM(CASE WHEN s >= 0 THEN pw ELSE 0 END) AS BIGINT) AS simhash
FROM contrib GROUP BY 1
""",
    doc="32-bit SimHash sketch per document (token-hash bit voting)",
    tags=("pipeline", "dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    th = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).select("doc_id", (spark_md5_hash48("w") % F.lit(MOD)).alias("x"))
    # All 32 bit-votes in ONE hash-aggregate (no 32x row blowup): per bit b,
    # s_b = sum(±1); then simhash = Σ (s_b >= 0) * 2^b computed row-wise.
    # Bit b is extracted with shiftright(x, b) & 1 — a native integer op
    # (r11, guide §1.2 per-task work: the previous (x / 2^b) double divide +
    # cast ran 32 FP divisions per row; for 0 <= x < 2^48 truncation of the
    # exact double quotient equals the arithmetic shift, so the result is
    # bit-identical to the oracle's x // pw % 2).
    votes_cols, recombine = _simhash_cols()
    votes = th.groupBy("doc_id").agg(*votes_cols)
    return votes.select("doc_id", recombine.alias("simhash"))


# --- embedding-cosine near-dup pairs ------------------------------------------------

# synthetic 64-dim embeddings: same-label cosine tops out ~0.47, so a "real"
# 0.95 near-dup bar would select nothing; 0.40 exercises the operator.
COSINE_DUP_THRESHOLD = 0.40

_SQL_DOT = (
    "list_reduce(list_transform(generate_series(1, len(a.embedding)), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), "
    "(x, y) -> x + y)"
)
_SQL_NORM_A = (
    "sqrt(list_reduce(list_transform(generate_series(1, len(a.embedding)), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), "
    "(x, y) -> x + y))"
)
_SQL_NORM_B = (
    "sqrt(list_reduce(list_transform(generate_series(1, len(b.embedding)), "
    "i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), "
    "(x, y) -> x + y))"
)


def _spark_dot(a, b):
    """Left-fold dot product (order-deterministic, matches list_reduce)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


# Banded hyperplane blocking: 2 bands x 8 bits (256 buckets/band), plane
# families drawn from disjoint ranges of the deterministic LCG stream.
# Sizing rule at scale: bits-per-band ≈ log2(N / target_bucket_size) keeps
# the per-bucket pair fan-out bounded as the corpus grows (add bits), and
# extra bands recover recall (recall = 1 - (1 - p^bits)^bands). 8 bits
# bounds sf0.01's 10k vectors at ~40/bucket.
_COSINE_BAND_BITS = 8
_COSINE_N_BANDS = 2


def _cosine_band_planes() -> list[list[list[float]]]:
    from f1_lakehouse_spark.pipeline.similarity import make_planes

    return [
        make_planes(_COSINE_BAND_BITS, offset=band * _COSINE_BAND_BITS)
        for band in range(_COSINE_N_BANDS)
    ]


def _cosine_lsh_oracle() -> str:
    from f1_lakehouse_spark.pipeline.similarity import sql_signature_planes

    band_sqls = " UNION ALL ".join(
        f"SELECT vec_id, {band} AS band, "
        f"{sql_signature_planes('embedding', planes)} AS bh FROM embeddings"
        for band, planes in enumerate(_cosine_band_planes())
    )
    return f"""
WITH bands AS (
    {band_sqls}
),
cand AS (
    SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
    FROM bands x JOIN bands y
      ON x.band = y.band AND x.bh = y.bh AND x.vec_id < y.vec_id
)
SELECT c.vec_a, c.vec_b,
       {_SQL_DOT} / ({_SQL_NORM_A} * {_SQL_NORM_B}) AS cosine
FROM cand c
JOIN embeddings a ON a.vec_id = c.vec_a
JOIN embeddings b ON b.vec_id = c.vec_b
WHERE {_SQL_DOT} / ({_SQL_NORM_A} * {_SQL_NORM_B}) >= {COSINE_DUP_THRESHOLD}
"""


@register(
    "dedup_embedding_cosine",
    oracle=_cosine_lsh_oracle(),
    doc="embedding near-dup pairs: hyperplane-LSH banded blocking (2 bands "
    "x 8 bits = 256 buckets/band) -> exact cosine verify >= "
    "COSINE_DUP_THRESHOLD (0.40; the synthetic 64-dim embeddings top out "
    "~0.47 same-label cosine, so a real-world 0.95 bar would select "
    "nothing). Never an all-pairs join: candidates are confined to "
    "same-(band, bucket) groups; bits-per-band grows with log2(N) to keep "
    "buckets bounded, bands grow to recover recall.",
    tags=("pipeline", "dedup", "embedding", "lsh"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_lakehouse_spark.pipeline.similarity import spark_signature_planes

    e = load_table(spark, sf_dir, "embeddings")
    band_structs = [
        F.struct(
            F.lit(band).alias("band"),
            spark_signature_planes(F.col("embedding"), planes).alias("bh"),
        )
        for band, planes in enumerate(_cosine_band_planes())
    ]
    bands = e.select(
        "vec_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("vec_id", "bb.band", "bb.bh")
    # self-join on a derived frame: persist AND materialize first (conftest
    # convention) so both sides read the cached band table
    bands = bands.persist()
    bands.count()
    x = bands.alias("x")
    y = bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bh") == F.col("y.bh"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(F.col("x.vec_id").alias("vec_a"), F.col("y.vec_id").alias("vec_b"))
        .distinct()
    )
    a = e.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("emb_a"))
    b = e.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("emb_b"))
    cos = _spark_dot(F.col("emb_a"), F.col("emb_b")) / (
        F.sqrt(_spark_dot(F.col("emb_a"), F.col("emb_a")))
        * F.sqrt(_spark_dot(F.col("emb_b"), F.col("emb_b")))
    )
    out = (
        cand.join(a, F.col("a_id") == F.col("vec_a"))
        .join(b, F.col("b_id") == F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)
    )
    out = out.persist()
    out.count()
    bands.unpersist()
    return out


# --- duplicate-cluster assignment (connected components) ----------------------------
# Candidate pairs → clusters via iterative minimum-label propagation — the
# standard large-graph connected-components loop (hash-partitioned joins,
# O(diameter) rounds; near-dup clusters have tiny diameters). The DuckDB
# oracle is a recursive-CTE transitive closure over the same pairs, so even
# this iterative algorithm gets an exact differential check.


def connected_components(
    pairs: DataFrame, max_iters: int = 20, driver_threshold: int = 1_000_000
) -> DataFrame:
    """(doc_a, doc_b) pairs → (doc_id, cluster_id=min reachable doc id).

    Hybrid strategy: LSH candidate-pair sets are orders of magnitude
    smaller than the corpus, so below ``driver_threshold`` pairs a
    driver-side union-find answers in one pass (no per-iteration job
    overhead); above it, the distributed min-label propagation loop takes
    over. Both produce identical labels (min reachable id). 1M pairs ≈
    16 MB of longs — a safe driver budget even on a modestly-sized
    production driver; everything larger stays distributed.
    """
    # The pair frame is the expensive end of an LSH pipeline and BOTH
    # branches materialize it again after this count (driver path:
    # collect; distributed path: the edges union) — without the cache the
    # whole candidate-generation pipeline re-runs per materialization
    # (measured at 10x: dedup_clusters 32 s, ~2x the pipeline cost).
    # BORROWED frames (already persisted by a caller — e.g. the
    # dedup_minhash_lsh shared entry) must NOT be unpersisted here: that
    # would silently turn the session cache cold for every later consumer
    # (the shared-frame rule: never unpersist inside a query fn).
    borrowed = pairs.is_cached
    if not borrowed:
        pairs = pairs.persist()
    n_pairs = pairs.count()
    try:
        if n_pairs <= driver_threshold:
            return _union_find_driver(pairs)
        out = _propagate_distributed(pairs, max_iters)
        out = out.persist()
        out.count()  # materialize through the cached pairs before release
        return out
    finally:
        if not borrowed:
            pairs.unpersist()


def _union_find_driver(pairs: DataFrame) -> DataFrame:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    # collect(), not toLocalIterator(): the iterator runs one sequential job
    # per partition; the pair list is already bounded by driver_threshold so
    # a single-job fetch is both safe and ~1 round-trip instead of N
    for row in pairs.select("doc_a", "doc_b").collect():
        a, b = row[0], row[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so the root IS the cluster id
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo

    # Arrow path (one zero-copy batch) instead of a Python tuple list —
    # pyspark converts pandas via Arrow when spark.sql.execution.arrow is on,
    # and even without it this avoids per-row Row construction.
    import pandas as pd

    docs = list(parent)
    out = pd.DataFrame(
        {"doc_id": docs, "cluster_id": [find(d) for d in docs]}, dtype="int64"
    )
    return pairs.sparkSession.createDataFrame(out, "doc_id long, cluster_id long")


def _propagate_distributed(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("lbl", F.col("doc_id"))
        .persist()
    )
    labels.count()
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["doc_id"])
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        new_labels = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("lbl"), F.coalesce(F.col("nbr_lbl"), F.col("lbl"))).alias(
                    "lbl"
                ),
            )
            .persist()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    out = labels.select("doc_id", F.col("lbl").alias("cluster_id"))
    edges.unpersist()
    return out


@register(
    "dedup_clusters",
    oracle=f"""
WITH RECURSIVE pairs AS ({_MINHASH_PAIRS_SQL}),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(a, b) AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
FROM reach GROUP BY a
""",
    doc="near-dup clusters: connected components over MinHash-LSH pairs "
    "(iterative label propagation vs recursive-CTE closure oracle)",
    tags=("pipeline", "dedup", "clusters", "iterative"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_minhash_lsh(spark, sf_dir)
    return connected_components(pairs)


# --- LSH-verified near-dup pipeline (the production shape) --------------------------
# At 100 TB nobody runs the exhaustive shingle self-join: MinHash-LSH
# proposes candidates (sub-quadratic), exact Jaccard verifies ONLY those.
# Registered as its own operator with a composed oracle so the end-to-end
# candidate→verify pipeline is differentially checked.


@register(
    "dedup_minhash_verified",
    oracle=f"""
WITH cand AS ({_MINHASH_PAIRS_SQL}),
shk AS ({_SQL_SHINGLE_KEYS}),
sizes AS (
    SELECT doc_id, COUNT(*) AS sz FROM shk GROUP BY 1
),
common AS (
    SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
    FROM cand c
    JOIN shk a ON a.doc_id = c.doc_a
    JOIN shk b ON b.doc_id = c.doc_b AND b.sk = a.sk
    GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b,
       CAST(c.n_common AS DOUBLE) / (sa.sz + sb.sz - c.n_common) AS jaccard
FROM common c
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
WHERE CAST(c.n_common AS DOUBLE) / (sa.sz + sb.sz - c.n_common) >= {JACCARD_THRESHOLD}
""",
    doc="production near-dup pipeline: LSH candidates -> exact Jaccard verify "
    "(no exhaustive self-join; no df cap needed since candidates are bounded)",
    tags=("pipeline", "dedup", "minhash", "jaccard"),
)
def dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Verify candidates doc-level, not shingle-level: one groupBy(doc_id)
    # folds each doc's (distinct) shingle set into an array, and the exact
    # overlap count is size(array_intersect(a, b)) computed inside the row —
    # the shingle table is shuffled once (by doc_id), never joined twice.
    #
    # r11 optimization (guide §1.2 "don't compute things twice"): both
    # inputs come from the session's shared caches instead of a private
    # per-call shingle pass — the distinct (doc_id, sk) frame
    # (shingle_keys_frame, shared with the Jaccard/edit-distance/containment
    # family) and the LSH candidate pair list (dedup_minhash_lsh, shared with
    # clusters/keep_list/candidate-recall). Equivalent by construction:
    # MinHash MIN is duplicate-insensitive, so candidates over the distinct
    # shingle set equal candidates over the raw multiset (the oracle's own
    # band CTEs read the DISTINCT shingle CTE), and collect_set dedups
    # either way. Before: every call re-hashed every word (md5) and
    # re-aggregated 16 minhashes; now both heavy passes run once per
    # (session, input).
    cand = dedup_minhash_lsh(spark, sf_dir)  # session-cached pair list
    shk = shingle_keys_frame(spark, sf_dir)  # session-cached distinct shingles
    docsets = shk.groupBy("doc_id").agg(F.collect_set("sk").alias("ds"))
    sa = docsets.select(
        F.col("doc_id").alias("a_id"), F.col("ds").alias("ds_a")
    )
    sb = docsets.select(
        F.col("doc_id").alias("b_id"), F.col("ds").alias("ds_b")
    )
    n_common = F.size(F.array_intersect("ds_a", "ds_b"))
    jaccard = n_common.cast("double") / (
        F.size("ds_a") + F.size("ds_b") - n_common
    )
    out = (
        cand.join(sa, F.col("a_id") == F.col("doc_a"))
        .join(sb, F.col("b_id") == F.col("doc_b"))
        .select("doc_a", "doc_b", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    # no private persist: both inputs are borrowed session caches, the pair
    # list is bucket-bounded, and the verify joins are one small job — the
    # caller's action materializes `out` directly (one fewer job per call)
    return out


# --- dedup apply: the final keep-list -----------------------------------------------
# What a real pipeline materializes: one surviving doc per duplicate group.
# Exact duplicates collapse by content hash; near-duplicates collapse to the
# minimum doc id of their LSH-candidate connected component; everything else
# survives as-is.


@register(
    "dedup_keep_list",
    oracle=f"""
WITH RECURSIVE pairs AS ({_MINHASH_PAIRS_SQL}),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(a, b) AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
clusters AS (
    SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a
),
exact_keep AS (
    SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
)
SELECT e.doc_id,
       CASE WHEN c.cluster_id IS NULL OR c.cluster_id = e.doc_id
            THEN 1 ELSE 0 END AS keep
FROM exact_keep e LEFT JOIN clusters c ON c.doc_id = e.doc_id
""",
    doc="dedup apply: exact-dup collapse + near-dup cluster representative flag",
    tags=("pipeline", "dedup", "apply"),
)
def dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    exact_keep = (
        d.select("doc_id", F.md5("text").alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    clusters = dedup_clusters(spark, sf_dir)
    return exact_keep.join(clusters, "doc_id", "left").select(
        "doc_id",
        F.when(
            F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col("doc_id")),
            1,
        )
        .otherwise(0)
        .alias("keep"),
    )


# --- exact-substring dedup (character-window fingerprints) --------------------------
# The character-level complement of the word-shingle Jaccard family: two docs
# are substring-duplicates when they share any WINDOW_CHARS-long character
# window (cf. Lee et al. 2022, "Deduplicating Training Data Makes Language
# Models Better" — suffix-array substring dedup; the distributed re-expression
# samples windows at a fixed stride instead of building a suffix array).
# Scale: the window explode is map-side and emits len(text)/WINDOW_STRIDE
# fingerprints per doc; the only shuffles are groupBy(fp) — uniformly
# hash-distributed — and the df-capped in-bucket pair join (same MAX_DF
# boilerplate bound as the Jaccard path). A W-char run shared between two
# docs is detected whenever the copied region covers a full stride-aligned
# window, i.e. any shared run of >= W + STRIDE - 1 chars is guaranteed caught.

WINDOW_CHARS = 40
WINDOW_STRIDE = 10


@register(
    "dedup_substring_exact",
    oracle=f"""
WITH w AS (
    SELECT DISTINCT doc_id,
           {sql_md5_hash48(f"substr(text, p, {WINDOW_CHARS})")} AS fp
    FROM (
        SELECT doc_id, text,
               unnest(generate_series(1, length(text) - {WINDOW_CHARS - 1},
                                      {WINDOW_STRIDE})) AS p
        FROM documents WHERE length(text) >= {WINDOW_CHARS}
    )
),
df AS (SELECT fp, COUNT(*) AS df FROM w GROUP BY 1),
wf AS (SELECT w.doc_id, w.fp FROM w JOIN df USING (fp) WHERE df.df <= {MAX_DF})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       COUNT(*) AS n_shared_windows
FROM wf a JOIN wf b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
""",
    doc=f"exact-substring duplicate pairs: {WINDOW_CHARS}-char windows at "
    f"stride {WINDOW_STRIDE}, md5-fingerprinted, df-capped bucket join",
    tags=("pipeline", "dedup", "substring"),
)
def dedup_substring_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    positions = F.sequence(
        F.lit(1),
        F.length("text") - F.lit(WINDOW_CHARS - 1),
        F.lit(WINDOW_STRIDE),
    )
    # guard: sequence(1, n, s) raises for n < 1 (doc shorter than one window)
    positions = F.when(F.length("text") >= WINDOW_CHARS, positions).otherwise(
        F.array().cast("array<int>")
    )
    w = (
        d.select("doc_id", "text", F.explode(positions).alias("p"))
        .select(
            "doc_id",
            spark_md5_hash48(
                F.col("text").substr(F.col("p"), F.lit(WINDOW_CHARS))
            ).alias("fp"),
        )
        .distinct()
    )
    dfreq = w.groupBy("fp").agg(F.count("*").alias("df"))
    wf = w.join(dfreq.filter(F.col("df") <= MAX_DF), "fp").select("doc_id", "fp")
    # self-join on a derived frame: persist AND materialize first (CLAUDE.md)
    wf = wf.persist()
    wf.count()
    a = wf.alias("a")
    b = wf.alias("b")
    out = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared_windows"))
    )
    out = out.persist()
    out.count()
    wf.unpersist()
    return out


# --- dedup-index quality: LSH candidate recall vs exact Jaccard ----------------------
# The dedup twin of ``ann_lsh_recall`` (similarity.py): how much of the
# exact-Jaccard ground truth (pairs >= JACCARD_THRESHOLD) does the banded
# MinHash-LSH candidate generator recover, and what fraction of its
# candidates are true dups? This is THE tuning metric for (bands x rows):
# at 100 TB you cannot run the exact join to check your index, so you run
# this on a sampled slice and extrapolate — the operator shape (two
# bounded pair lists + one pair-key join) is exactly that audit. Both arms
# are deterministic integer arithmetic, so the metric itself is
# differentially checked; divisions are guarded so an empty truth/candidate
# set yields NULL on both engines rather than engine-specific inf/NaN.


@register(
    "dedup_lsh_candidate_recall",
    oracle=None,  # placeholder, replaced below (nests two sibling oracles)
    doc="recall/precision of MinHash-LSH candidate pairs against the "
    "exact-Jaccard ground truth — the banding-quality audit, itself "
    "differentially checked",
    tags=("pipeline", "dedup", "eval"),
)
def dedup_lsh_candidate_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    truth = jaccard_pairs(d, shk=shingle_keys_frame(spark, sf_dir)).select(
        "doc_a", "doc_b"
    )
    cand = dedup_minhash_lsh(spark, sf_dir)
    hits = truth.join(cand, ["doc_a", "doc_b"])
    row = (
        truth.agg(F.count("*").alias("n_truth"))
        .crossJoin(cand.agg(F.count("*").alias("n_candidates")))
        .crossJoin(hits.agg(F.count("*").alias("n_hits")))
    )
    return row.select(
        F.col("n_truth").cast("long").alias("n_truth"),
        F.col("n_candidates").cast("long").alias("n_candidates"),
        F.col("n_hits").cast("long").alias("n_hits"),
        F.when(
            F.col("n_truth") > 0,
            F.col("n_hits").cast("double") / F.col("n_truth").cast("double"),
        ).alias("candidate_recall"),
        F.when(
            F.col("n_candidates") > 0,
            F.col("n_hits").cast("double") / F.col("n_candidates").cast("double"),
        ).alias("candidate_precision"),
    )


REGISTRY["dedup_lsh_candidate_recall"].oracle = f"""
WITH truth AS (
    SELECT doc_a, doc_b FROM ({{jac}}) j
),
cand AS (
    SELECT doc_a, doc_b FROM ({_MINHASH_PAIRS_SQL}) c
),
hits AS (
    SELECT COUNT(*) AS n FROM truth JOIN cand USING (doc_a, doc_b)
)
SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
       CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
       CAST(hits.n AS BIGINT) AS n_hits,
       CASE WHEN (SELECT COUNT(*) FROM truth) > 0
            THEN CAST(hits.n AS DOUBLE) / (SELECT COUNT(*) FROM truth)
            END AS candidate_recall,
       CASE WHEN (SELECT COUNT(*) FROM cand) > 0
            THEN CAST(hits.n AS DOUBLE) / (SELECT COUNT(*) FROM cand)
            END AS candidate_precision
FROM hits
""".format(jac=REGISTRY["dedup_ngram_jaccard"].oracle)


# --- corpus-level overlap: exact shingle Jaccard between sources ---------------------
# Corpus analytics rather than pair dedup: how much 3-gram content do two
# ingestion sources share? (The question behind "is CommonCrawl-derived
# set A just a re-crawl of set B?" — measured before paying for cross-
# source dedup.) Exact set Jaccard over each source's DISTINCT shingle-key
# set. Scale shape: one distinct-(source, shingle) shuffle (the same map
# side every dedup op already pays), a shingle-keyed self-join whose
# fan-out is bounded by S^2/2 rows per shingle for S sources (sources are
# tens, not millions — for source counts where S^2 matters, the MinHash
# band signatures already registered give the sketch estimate instead),
# and a broadcast of the S-row size table.

_SQL_SOURCE_SHINGLES = _SQL_SHINGLE_KEYS.replace("doc_id", "source")


@register(
    "corpus_source_overlap",
    oracle=f"""
WITH sg AS ({_SQL_SOURCE_SHINGLES}),
sizes AS (SELECT source, COUNT(*) AS sz FROM sg GROUP BY 1),
inter AS (
    SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
    FROM sg a JOIN sg b ON a.sk = b.sk AND a.source < b.source
    GROUP BY 1, 2
)
SELECT i.src_a, i.src_b,
       CAST(i.n_common AS BIGINT) AS n_common,
       CAST(i.n_common AS DOUBLE) / (sa.sz + sb.sz - i.n_common) AS jaccard
FROM inter i
JOIN sizes sa ON sa.source = i.src_a
JOIN sizes sb ON sb.source = i.src_b
""",
    doc="exact word-3-gram Jaccard between every source pair — the "
    "cross-source corpus-overlap report (tens of sources; pairs with zero "
    "overlap are omitted by construction)",
    tags=("pipeline", "dedup", "corpus"),
)
def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    sg = _spark_shingle_keys(d.select("source", "text"), key="source")
    # self-join on a derived frame: persist AND materialize first (CLAUDE.md)
    sg = sg.persist()
    sg.count()
    sizes = sg.groupBy("source").agg(F.count("*").alias("sz"))
    a = sg.alias("a")
    b = sg.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sk") == F.col("b.sk"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    out = (
        inter.join(F.broadcast(sa), F.col("sa.source") == F.col("src_a"))
        .join(F.broadcast(sb), F.col("sb.source") == F.col("src_b"))
        .select(
            "src_a",
            "src_b",
            F.col("n_common").cast("long").alias("n_common"),
            (
                F.col("n_common").cast("double")
                / (F.col("sa.sz") + F.col("sb.sz") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )
    out = out.persist()
    out.count()
    sg.unpersist()
    return out


# --- prefix-filtered Jaccard join (AllPairs / PPJoin family) --------------------------
# The index-size optimization the plain shingle join lacks: order each doc's
# shingles by GLOBAL document frequency (rarest first) and index only the
# first  p = |d| - ceil(t*|d|) + 1  of them. Two docs with Jaccard >= t MUST
# share at least one prefix shingle (pigeonhole on the overlap bound), so
# candidate generation from the prefix index alone has NO false negatives —
# while the index holds only the ~(1-t) rarest fraction of every posting
# list. At 100 TB this is the difference that matters: the frequent
# (boilerplate) shingles that produce the huge buckets are exactly the ones
# the prefix ordering pushes OUT of the index, so bucket sizes shrink where
# the plain join's are largest. Verification then runs exact set-overlap on
# the FULL shingle arrays, one doc_id-keyed broadcast-free join per side.
# Cf. Bayardo et al., "Scaling Up All Pairs Similarity Search" (WWW'07);
# Xiao et al., PPJoin (WWW'08). Reference has no analog (its only dedup is
# dbt uniqueness tests); this extends the SURVEY §2 dedup family.

# integer-exact prefix length: ceil(t*sz) with t = 35/100
_PREFIX_NUM = 35
_PREFIX_DEN = 100


@register(
    "dedup_jaccard_prefix_filter",
    oracle=f"""
WITH shk AS ({_SQL_SHINGLE_KEYS}),
dfreq AS (SELECT sk, COUNT(*) AS df FROM shk GROUP BY 1),
docs AS (
    SELECT doc_id,
           list(sk ORDER BY df, sk) AS sks,
           COUNT(*) AS sz
    FROM shk JOIN dfreq USING (sk)
    GROUP BY doc_id
),
pfx AS (
    SELECT doc_id,
           unnest(sks[1 : sz - (({_PREFIX_NUM} * sz + {_PREFIX_DEN} - 1) // {_PREFIX_DEN}) + 1])
               AS sk
    FROM docs
),
pdf AS (SELECT sk, COUNT(DISTINCT doc_id) AS pdf FROM pfx GROUP BY 1),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM pfx a
    JOIN pfx b ON a.sk = b.sk AND a.doc_id < b.doc_id
    JOIN pdf ON pdf.sk = a.sk
    WHERE pdf.pdf <= {MAX_DF}
),
verified AS (
    SELECT c.doc_a, c.doc_b,
           len(list_intersect(a.sks, b.sks)) AS n_common,
           a.sz AS sza, b.sz AS szb
    FROM cand c
    JOIN docs a ON a.doc_id = c.doc_a
    JOIN docs b ON b.doc_id = c.doc_b
)
SELECT doc_a, doc_b,
       CAST(n_common AS DOUBLE) / (sza + szb - n_common) AS jaccard
FROM verified
WHERE CAST(n_common AS DOUBLE) / (sza + szb - n_common) >= {JACCARD_THRESHOLD}
""",
    doc="prefix-filtered Jaccard similarity join (AllPairs/PPJoin): index "
    "only each doc's rarest p = |d| - ceil(t|d|) + 1 shingles (no false "
    "negatives by pigeonhole), verify exact Jaccard on full shingle sets — "
    "the frequent shingles that blow up the plain shingle join's buckets "
    "never enter the index",
    tags=("pipeline", "dedup", "jaccard", "prefix-filter"),
)
def dedup_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    shk = shingle_keys_frame(spark, sf_dir)
    dfreq = shk.groupBy("sk").agg(F.count("*").alias("df"))
    # per-doc shingle list in (df, sk) order — a TOTAL order (sk distinct
    # within a doc), so the prefix is deterministic on both engines
    docs = (
        shk.join(dfreq, "sk")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("df", "sk"))), lambda s: s["sk"]
            ).alias("sks"),
            F.count("*").alias("sz"),
        )
        # docs feeds BOTH the prefix index and (twice) the verify join
        .persist()
    )
    docs.count()
    sz = F.col("sz")
    prefix_len = sz - F.floor(
        (F.lit(_PREFIX_NUM) * sz + F.lit(_PREFIX_DEN - 1)) / F.lit(_PREFIX_DEN)
    ).cast("long") + F.lit(1)
    pfx = docs.select(
        "doc_id", F.explode(F.slice("sks", 1, prefix_len)).alias("sk")
    )
    # prefix shingles are globally RARE by construction, so buckets are small;
    # MAX_DF is a pure safety valve here (mirrored in the oracle)
    bucket = (
        pfx.groupBy("sk")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ds"))
        .filter(F.size("ds") <= MAX_DF)
    )
    ds = F.col("ds")
    pair_arrays = _pair_arrays(ds)
    cand = (
        bucket.select(F.explode(pair_arrays).alias("p"))
        .select(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .distinct()
    )
    a = docs.alias("a")
    b = docs.alias("b")
    n_common = F.size(F.array_intersect(F.col("a.sks"), F.col("b.sks")))
    jaccard = n_common.cast("double") / (
        F.col("a.sz") + F.col("b.sz") - n_common
    )
    out = (
        cand.join(a, F.col("a.doc_id") == F.col("doc_a"))
        .join(b, F.col("b.doc_id") == F.col("doc_b"))
        .select("doc_a", "doc_b", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    out = out.persist()
    out.count()
    docs.unpersist()
    return out


# --- sorted-neighborhood dedup (SNM blocking) ----------------------------------------
# The third classic blocking family (after LSH buckets and prefix filtering):
# sort the corpus by a normalized key and compare each record only with its
# next W-1 neighbors in sort order. One sort-shuffle, O(N*W) comparisons,
# no candidate-pair materialization at all — the cheapest near-dup pass
# there is, at the cost of missing dups whose sort keys diverge early
# (mitigated in production by multi-pass SNM with rotated keys; single
# deterministic pass here). The sort is blocked by the key's first
# SNM_BLOCK_CHARS characters so no single window partition spans the corpus
# (the window's partition key IS the scale guard); cross-block neighbors are
# the documented blind spot. Widening the block from 1 char (r2) to 8
# raises the parallelism ceiling from ≤36 window partitions to 36⁸ ≈ 2.8e12
# (measured: 62 → 1,497 distinct blocks on the sf0.1 corpus, whose prefix
# entropy — not the alphabet — is the binding limit) — enough to spread any
# corpus over a 1000-executor cluster. The recall cost is nil by the
# sort-adjacency argument: a pair diverging inside the first 8 chars sorts
# far apart as soon as its block is populated, so the 1-char pass only
# caught such pairs in near-empty blocks (measured: identical result sets
# at widths 1/3/8 on sf0.01 and sf0.1).
# Cf. Hernandez & Stolfo, "The Merge/Purge Problem" (SIGMOD'95).

SNM_WINDOW = 4  # compare with the next 3 docs in sort order
SNM_BLOCK_CHARS = 8  # block = first 8 normalized chars (1.5k blocks at sf0.1)
SNM_KEY_CHARS = 200  # levenshtein verify on the first 200 normalized chars
SNM_REL_THRESHOLD = 0.30


@register(
    "dedup_sorted_neighborhood",
    oracle=f"""
WITH n AS (
    SELECT doc_id,
           substr(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g'), 1,
                  {SNM_KEY_CHARS}) AS skey
    FROM documents
),
s AS (SELECT doc_id, skey, substr(skey, 1, {SNM_BLOCK_CHARS}) AS blk FROM n),
w AS (
    SELECT doc_id, skey,
           lead(doc_id, 1) OVER win AS d1, lead(skey, 1) OVER win AS k1,
           lead(doc_id, 2) OVER win AS d2, lead(skey, 2) OVER win AS k2,
           lead(doc_id, 3) OVER win AS d3, lead(skey, 3) OVER win AS k3
    FROM s
    WINDOW win AS (PARTITION BY blk ORDER BY skey, doc_id)
),
pairs AS (
    SELECT doc_id, skey, p.nid, p.nkey
    FROM w, unnest([{{'nid': d1, 'nkey': k1}},
                    {{'nid': d2, 'nkey': k2}},
                    {{'nid': d3, 'nkey': k3}}]) AS t(p)
    WHERE p.nid IS NOT NULL
),
scored AS (
    SELECT LEAST(doc_id, nid) AS doc_a, GREATEST(doc_id, nid) AS doc_b,
           levenshtein(skey, nkey) AS lev,
           GREATEST(len(skey), len(nkey), 1) AS denom
    FROM pairs
)
SELECT doc_a, doc_b, CAST(lev AS BIGINT) AS lev,
       CAST(lev AS DOUBLE) / denom AS rel_dist
FROM scored
WHERE CAST(lev AS DOUBLE) / denom <= {SNM_REL_THRESHOLD}
""",
    doc="sorted-neighborhood dedup: normalize -> 8-char block -> sort "
    "within block -> compare each doc with its next W-1 neighbors via "
    "window leads (zero candidate-pair shuffle), levenshtein verify on the "
    "normalized 200-char key",
    tags=("pipeline", "dedup", "snm"),
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window  # noqa: PLC0415

    d = load_table(spark, sf_dir, "documents")
    s = d.select(
        "doc_id",
        F.substring(
            F.regexp_replace(F.lower("text"), "[^a-z0-9]+", ""), 1, SNM_KEY_CHARS
        ).alias("skey"),
    ).withColumn("blk", F.substring("skey", 1, SNM_BLOCK_CHARS))
    win = Window.partitionBy("blk").orderBy("skey", "doc_id")
    leads = s.select(
        "doc_id",
        "skey",
        F.array(
            *[
                F.struct(
                    F.lead("doc_id", i).over(win).alias("nid"),
                    F.lead("skey", i).over(win).alias("nkey"),
                )
                for i in range(1, SNM_WINDOW)
            ]
        ).alias("nbrs"),
    )
    pairs = leads.select(
        "doc_id", "skey", F.explode("nbrs").alias("p")
    ).filter(F.col("p.nid").isNotNull())
    lev = F.levenshtein("skey", F.col("p.nkey"))
    denom = F.greatest(F.length("skey"), F.length(F.col("p.nkey")), F.lit(1))
    rel = lev.cast("double") / denom
    return (
        pairs.select(
            F.least("doc_id", F.col("p.nid")).alias("doc_a"),
            F.greatest("doc_id", F.col("p.nid")).alias("doc_b"),
            lev.cast("long").alias("lev"),
            rel.alias("rel_dist"),
        )
        .filter(F.col("rel_dist") <= SNM_REL_THRESHOLD)
    )


# --- containment (asymmetric near-subset) dedup --------------------------------------
# Jaccard misses the quotation/aggregation case: a short doc copied INTO a
# much larger one has tiny Jaccard (union is huge) but containment
# |A∩B| / |A| ≈ 1. Training-corpus curation needs this direction
# explicitly (boilerplate pages embedding whole smaller documents, shard
# concatenation bugs) — cf. the containment variant of MinHash (Broder'97).
# Same capped shingle-bucket machinery as `jaccard_pairs` (one groupBy(sk),
# array-side pair generation, broadcast sizes), different verdict columns:
# both direction-specific containments, flagged when either side is
# near-contained.

CONTAIN_THRESHOLD = 0.50


@register(
    "dedup_containment",
    oracle=f"""
WITH shk AS ({_SQL_SHINGLE_KEYS}),
df AS (SELECT sk, COUNT(*) AS df FROM shk GROUP BY 1),
sh_f AS (
    SELECT shk.doc_id, shk.sk FROM shk JOIN df USING (sk)
    WHERE df.df <= {MAX_DF}
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh_f GROUP BY 1),
common AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
    FROM sh_f a JOIN sh_f b ON a.sk = b.sk AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b,
       CAST(c.n_common AS DOUBLE) / sa.sz AS contain_a_in_b,
       CAST(c.n_common AS DOUBLE) / sb.sz AS contain_b_in_a
FROM common c
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
WHERE CAST(c.n_common AS DOUBLE) / sa.sz >= {CONTAIN_THRESHOLD}
   OR CAST(c.n_common AS DOUBLE) / sb.sz >= {CONTAIN_THRESHOLD}
""",
    doc="asymmetric containment dedup: |A∩B|/|A| and |A∩B|/|B| per candidate "
    "pair — catches a short doc near-contained in a longer one (tiny "
    "Jaccard, high containment), the quotation/concatenation duplication "
    "mode Jaccard thresholds miss",
    tags=("pipeline", "dedup", "containment"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    shk = shingle_keys_frame(spark, sf_dir)
    ds = F.col("ds")
    grouped = (
        shk.groupBy("sk")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size(ds) <= MAX_DF)
        .persist()
    )
    grouped.count()
    sizes = (
        grouped.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("sz"))
    )
    pair_arrays = _pair_arrays(ds)
    common = (
        grouped.select(F.explode(pair_arrays).alias("p"))
        .groupBy(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    c_ab = F.col("n_common").cast("double") / F.col("sa.sz")
    c_ba = F.col("n_common").cast("double") / F.col("sb.sz")
    out = (
        common.join(F.broadcast(sa), F.col("sa.doc_id") == F.col("doc_a"))
        .join(F.broadcast(sb), F.col("sb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            c_ab.alias("contain_a_in_b"),
            c_ba.alias("contain_b_in_a"),
        )
        .filter(
            (F.col("contain_a_in_b") >= CONTAIN_THRESHOLD)
            | (F.col("contain_b_in_a") >= CONTAIN_THRESHOLD)
        )
    )
    out = out.persist()
    out.count()
    grouped.unpersist()
    return out


# --- dup-rate monitoring per source --------------------------------------------------
# The ops dashboard query over the dedup machinery: per source, how much
# of the feed shares its normalized 40-char prefix with an earlier doc
# (first-writer-wins representative — the boilerplate/near-dup-prefix
# signal; this corpus has ZERO byte-exact duplicates, so a raw-text
# fingerprint would report a degenerate all-zeros table). This is the
# signal source-quota and mixture decisions read — a source whose dup
# share spikes is re-crawling itself. One fingerprint groupBy + one
# fingerprint-keyed join back + one tiny source aggregate.

DUP_PREFIX_CHARS = 40


@register(
    "dedup_rate_by_source",
    oracle=f"""
WITH fp AS (
    SELECT doc_id, source,
           {sql_poly_hash(f"substr(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g'), 1, {DUP_PREFIX_CHARS})")}
               AS fingerprint
    FROM documents
),
grp AS (SELECT fingerprint, MIN(doc_id) AS rep FROM fp GROUP BY 1)
SELECT fp.source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN fp.doc_id <> g.rep THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dups,
       round(CAST(SUM(CASE WHEN fp.doc_id <> g.rep THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 9) AS dup_rate
FROM fp JOIN grp g USING (fingerprint)
GROUP BY 1
""",
    doc="per-source normalized-prefix duplicate share (first-writer-wins "
    "rep) — the boilerplate feed-health signal quota/mixture decisions "
    "read",
    tags=("pipeline", "dedup", "monitoring"),
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    key = F.substring(
        F.regexp_replace(F.lower("text"), "[^a-z0-9]+", ""), 1, DUP_PREFIX_CHARS
    )
    fp = d.select("doc_id", "source", spark_poly_hash(key).alias("fingerprint"))
    fp = fp.persist()
    fp.count()
    grp = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("rep"))
    out = (
        fp.join(grp, "fingerprint")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("doc_id") != F.col("rep"), 1).otherwise(0))
            .cast("long")
            .alias("n_dups"),
        )
        .select(
            "source",
            "n_docs",
            "n_dups",
            F.round(
                F.col("n_dups").cast("double") / F.col("n_docs"), 9
            ).alias("dup_rate"),
        )
    )
    out = out.persist()
    out.count()
    fp.unpersist()
    return out


# --- multi-pass sorted neighborhood --------------------------------------------------
# Production SNM (Hernandez & Stolfo '95) runs SEVERAL passes with
# rotated sort keys precisely because one key's early divergence is
# another key's shared prefix: pass 1 sorts on the normalized prefix
# (same as dedup_sorted_neighborhood), pass 2 on the REVERSED normalized
# key (suffix-anchored — catches pairs whose edits cluster at the front).
# Each pass is the same one-sort zero-pair-shuffle window-lead compare;
# the union of verified pairs is DISTINCT (a pair found by both passes
# reports once). Recall strictly dominates the single pass at exactly 2x
# the (linear) cost.


def _snm_pass(d: DataFrame, key_col) -> DataFrame:
    from pyspark.sql import Window  # noqa: PLC0415

    s = d.select("doc_id", key_col.alias("skey")).withColumn(
        "blk", F.substring("skey", 1, SNM_BLOCK_CHARS)
    )
    win = Window.partitionBy("blk").orderBy("skey", "doc_id")
    leads = s.select(
        "doc_id",
        "skey",
        F.array(
            *[
                F.struct(
                    F.lead("doc_id", i).over(win).alias("nid"),
                    F.lead("skey", i).over(win).alias("nkey"),
                )
                for i in range(1, SNM_WINDOW)
            ]
        ).alias("nbrs"),
    )
    pairs = leads.select("doc_id", "skey", F.explode("nbrs").alias("p")).filter(
        F.col("p.nid").isNotNull()
    )
    lev = F.levenshtein("skey", F.col("p.nkey"))
    denom = F.greatest(F.length("skey"), F.length(F.col("p.nkey")), F.lit(1))
    return (
        pairs.select(
            F.least("doc_id", F.col("p.nid")).alias("doc_a"),
            F.greatest("doc_id", F.col("p.nid")).alias("doc_b"),
        )
        .filter((lev.cast("double") / denom) <= SNM_REL_THRESHOLD)
    )


_SQL_SNM_NORM = (
    f"substr(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g'), 1, {SNM_KEY_CHARS})"
)


def _sql_snm_pass(key_expr: str, out: str) -> str:
    return f"""
{out}_s AS (
    SELECT doc_id, {key_expr} AS skey,
           substr({key_expr}, 1, {SNM_BLOCK_CHARS}) AS blk
    FROM documents
),
{out}_w AS (
    SELECT doc_id, skey,
           lead(doc_id, 1) OVER win AS d1, lead(skey, 1) OVER win AS k1,
           lead(doc_id, 2) OVER win AS d2, lead(skey, 2) OVER win AS k2,
           lead(doc_id, 3) OVER win AS d3, lead(skey, 3) OVER win AS k3
    FROM {out}_s
    WINDOW win AS (PARTITION BY blk ORDER BY skey, doc_id)
),
{out} AS (
    SELECT LEAST(doc_id, p.nid) AS doc_a, GREATEST(doc_id, p.nid) AS doc_b
    FROM {out}_w, unnest([{{'nid': d1, 'nkey': k1}},
                          {{'nid': d2, 'nkey': k2}},
                          {{'nid': d3, 'nkey': k3}}]) AS t(p)
    WHERE p.nid IS NOT NULL
      AND CAST(levenshtein(skey, p.nkey) AS DOUBLE)
          / GREATEST(len(skey), len(p.nkey), 1) <= {SNM_REL_THRESHOLD}
)"""


@register(
    "dedup_snm_multipass",
    oracle=f"""
WITH {_sql_snm_pass(_SQL_SNM_NORM, "p1")},
{_sql_snm_pass(f"reverse({_SQL_SNM_NORM})", "p2")}
SELECT DISTINCT doc_a, doc_b FROM (
    SELECT doc_a, doc_b FROM p1
    UNION ALL SELECT doc_a, doc_b FROM p2
)
""",
    doc="multi-pass SNM: prefix-key pass + reversed-key (suffix-anchored) "
    "pass, DISTINCT union of verified pairs — production Merge/Purge, "
    "recall strictly dominates the single pass at 2x linear cost",
    tags=("pipeline", "dedup", "snm"),
)
def dedup_snm_multipass(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    norm = F.substring(
        F.regexp_replace(F.lower("text"), "[^a-z0-9]+", ""), 1, SNM_KEY_CHARS
    )
    p1 = _snm_pass(d, norm)
    p2 = _snm_pass(d, F.reverse(norm))
    return p1.unionByName(p2).distinct()


# --- duplicate-group size histogram -------------------------------------------------
# Dedup monitoring: the log2 histogram of duplicate-group sizes under the
# 40-char prefix fingerprint (the cheap near-dup blocking key) — the shape
# that tells you whether duplication is a long tail of pairs or a few
# pathological mega-groups (which need the df-cap treatment). Two cheap
# aggregations; the bucket is integer binary-length (engine-exact).

HIST_PREFIX = 40


@register(
    "dedup_group_size_histogram",
    oracle=f"""
WITH g AS (SELECT md5(substr(text, 1, {HIST_PREFIX})) AS k, COUNT(*) AS sz
           FROM documents GROUP BY 1)
SELECT CAST(length(bin(sz)) - 1 AS INTEGER) AS log2_bucket,
       COUNT(*) AS n_groups,
       CAST(SUM(sz) AS BIGINT) AS n_docs
FROM g GROUP BY 1
""",
    doc=f"log2 histogram of duplicate-group sizes under the {HIST_PREFIX}-char "
    "prefix fingerprint: two map-side-combined aggregations, |buckets| rows",
    tags=("pipeline", "dedup", "diagnostics"),
)
def dedup_group_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    g = d.groupBy(
        F.md5(F.substring("text", 1, HIST_PREFIX)).alias("k")
    ).agg(F.count("*").alias("sz"))
    return g.groupBy(
        (F.length(F.bin("sz")) - F.lit(1)).cast("int").alias("log2_bucket")
    ).agg(
        F.count("*").alias("n_groups"),
        F.sum("sz").cast("long").alias("n_docs"),
    )


# --- LSH banding S-curve (measured) -------------------------------------------------
# The banding trade quantified on the real corpus: from the SAME 16
# minhashes, three configs — 2 bands x 8 rows (high precision), 4x4 (the
# production setting), 8x2 (high recall) — each emitting its candidate
# count and its exact-Jaccard-verified count, i.e. the measured precision
# of each point on the S-curve. Band hashes here are modular polynomial
# sums (31^k mod MOD weights) so the 8-row band fits int64; all three
# configs reuse ONE minhash aggregate and ONE shingle-set verify pass.
# Candidates are bounded by the banding itself, so the verify join is
# candidate-sized — nothing quadratic.

CURVE_CONFIGS = [("b2r8", 2, 8), ("b4r4", 4, 4), ("b8r2", 8, 2)]
_CURVE_P = [pow(31, k, MOD) for k in range(8)]


def _curve_oracle() -> str:
    parts = [
        f"""WITH shh AS (
    SELECT doc_id, sk AS x FROM ({_SQL_SHINGLE_KEYS})
),
params AS (SELECT * FROM (VALUES {_PARAMS_SQL}) t(i, a, b)),
mh AS (
    SELECT doc_id, i, MIN((a * x + b) % {MOD}) AS m
    FROM shh, params GROUP BY 1, 2
),
shk AS ({_SQL_SHINGLE_KEYS}),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shk GROUP BY 1)"""
    ]
    for cfg, nb, rpb in CURVE_CONFIGS:
        pw = ", ".join(f"({k}, {_CURVE_P[k]})" for k in range(rpb))
        parts.append(
            f""",
pw_{cfg} AS (SELECT * FROM (VALUES {pw}) t(k, pw)),
bands_{cfg} AS (
    SELECT doc_id, i // {rpb} AS band,
           SUM((m * pw) % {MOD}) % {MOD} AS band_hash
    FROM mh JOIN pw_{cfg} ON pw_{cfg}.k = i % {rpb}
    GROUP BY 1, 2
),
pairs_{cfg} AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands_{cfg} a
    JOIN bands_{cfg} b ON a.band = b.band AND a.band_hash = b.band_hash
                      AND a.doc_id < b.doc_id
)"""
        )
    union = "\nUNION ALL ".join(
        f"SELECT '{cfg}' AS cfg, doc_a, doc_b FROM pairs_{cfg}"
        for cfg, _, _ in CURVE_CONFIGS
    )
    cfg_dims = ", ".join(f"('{c}', {nb}, {r})" for c, nb, r in CURVE_CONFIGS)
    parts.append(
        f""",
allc AS ({union}),
common AS (
    SELECT c.cfg, c.doc_a, c.doc_b, COUNT(*) AS n_common
    FROM allc c
    JOIN shk a ON a.doc_id = c.doc_a
    JOIN shk b ON b.doc_id = c.doc_b AND b.sk = a.sk
    GROUP BY 1, 2, 3
),
ver AS (
    SELECT cm.cfg, COUNT(*) AS n_verified
    FROM common cm
    JOIN sizes sa ON sa.doc_id = cm.doc_a
    JOIN sizes sb ON sb.doc_id = cm.doc_b
    WHERE CAST(cm.n_common AS DOUBLE) / (sa.sz + sb.sz - cm.n_common)
          >= {JACCARD_THRESHOLD}
    GROUP BY 1
),
counts AS (SELECT cfg, COUNT(*) AS n_candidates FROM allc GROUP BY 1),
dims AS (SELECT * FROM (VALUES {cfg_dims}) t(cfg, n_bands, rows_per_band))
SELECT d.cfg, d.n_bands, d.rows_per_band,
       COALESCE(c.n_candidates, 0) AS n_candidates,
       COALESCE(v.n_verified, 0) AS n_verified,
       CASE WHEN COALESCE(c.n_candidates, 0) = 0 THEN 0.0
            ELSE CAST(COALESCE(v.n_verified, 0) AS DOUBLE) / c.n_candidates
       END AS precision_est
FROM dims d
LEFT JOIN counts c USING (cfg)
LEFT JOIN ver v USING (cfg)"""
    )
    return "".join(parts)


@register(
    "dedup_minhash_band_curve",
    oracle=_curve_oracle(),
    doc="LSH banding S-curve measured on the corpus: candidate count and "
    "exact-Jaccard-verified precision for 2x8 / 4x4 / 8x2 band configs "
    "from ONE minhash aggregate and ONE shingle verify pass — the "
    "banding-knob evidence, all candidate-bounded",
    tags=("pipeline", "dedup", "minhash", "diagnostics"),
)
def dedup_minhash_band_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11: borrow the session's shared DISTINCT shingle cache instead of a
    # private per-call corpus re-hash — MIN minhashes and collect_set doc
    # sets are duplicate-insensitive, and the oracle's shh/sizes CTEs both
    # read the DISTINCT shingle CTE already (borrowed frame: never
    # unpersisted here).
    shk_raw = shingle_keys_frame(spark, sf_dir)
    shh = shk_raw.select("doc_id", F.col("sk").alias("x"))
    mh = shh.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("x") + F.lit(b)) % F.lit(MOD)).alias(f"m{i}")
            for i, a, b in MINHASH_PARAMS
        ]
    )
    mh = mh.persist()
    mh.count()  # shared by the three band projections (CLAUDE.md)
    allc = None
    band_frames = []
    for cfg, nb, rpb in CURVE_CONFIGS:
        structs = [
            F.struct(
                F.lit(band).alias("band"),
                (
                    sum(
                        (
                            F.col(f"m{band * rpb + k}") * F.lit(_CURVE_P[k])
                        )
                        % F.lit(MOD)
                        for k in range(rpb)
                    )
                    % F.lit(MOD)
                ).alias("band_hash"),
            )
            for band in range(nb)
        ]
        bands = mh.select(
            "doc_id", F.explode(F.array(*structs)).alias("bs")
        ).select("doc_id", "bs.band", "bs.band_hash")
        bands = bands.persist()
        bands.count()  # self-join on a derived frame (CLAUDE.md)
        band_frames.append(bands)
        a = bands.alias("a")
        b = bands.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.lit(cfg).alias("cfg"),
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        allc = pairs if allc is None else allc.unionByName(pairs)
    allc = allc.persist()
    allc.count()
    docsets = shk_raw.groupBy("doc_id").agg(F.collect_set("sk").alias("ds"))
    sa = docsets.select(F.col("doc_id").alias("a_id"), F.col("ds").alias("ds_a"))
    sb = docsets.select(F.col("doc_id").alias("b_id"), F.col("ds").alias("ds_b"))
    n_common = F.size(F.array_intersect("ds_a", "ds_b"))
    jaccard = n_common.cast("double") / (
        F.size("ds_a") + F.size("ds_b") - n_common
    )
    ver = (
        allc.join(sa, F.col("a_id") == F.col("doc_a"))
        .join(sb, F.col("b_id") == F.col("doc_b"))
        .filter(jaccard >= JACCARD_THRESHOLD)
        .groupBy("cfg")
        .agg(F.count("*").alias("n_verified"))
    )
    counts = allc.groupBy("cfg").agg(F.count("*").alias("n_candidates"))
    dims = spark.createDataFrame(
        CURVE_CONFIGS, "cfg string, n_bands int, rows_per_band int"
    )
    out = (
        dims.join(counts, "cfg", "left")
        .join(ver, "cfg", "left")
        .select(
            "cfg",
            "n_bands",
            "rows_per_band",
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
            F.coalesce("n_verified", F.lit(0)).alias("n_verified"),
            F.when(F.coalesce("n_candidates", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                F.col("n_verified").cast("double") / F.col("n_candidates")
            )
            .alias("precision_est"),
        )
    )
    out = out.persist()
    out.count()
    for bf in band_frames:
        bf.unpersist()
    allc.unpersist()
    mh.unpersist()
    return out


# --- quality-aware cluster representative ----------------------------------------------
# dedup_keep_list keeps the MIN-doc_id member of each near-dup cluster —
# correct but arbitrary. Production corpora keep the BEST member (the
# highest-quality duplicate survives; the SemDeDup/RefinedWeb papers both
# note representative choice matters downstream). Deterministic quality
# key: passes_quality DESC, n_words DESC, doc_id ASC — all integers from
# the quality-filter features, so the argmax is bit-stable. One window
# over cluster_id (the same key the CC labeling already shuffled on) and
# a same-key join back; the representative table is |clusters|-sized.


def _best_rep_oracle() -> str:
    # the quality sub-oracle lives in text.py: import it HERE so dedup
    # registers under any module import order (the text<->dedup cycle is
    # safe: each side's needed attributes are defined before its
    # cross-import line)
    import f1_lakehouse_spark.pipeline.text  # noqa: F401,PLC0415

    from f1_lakehouse_spark.registry import REGISTRY as _R

    quality = _R["text_quality_score"].oracle
    return f"""
WITH RECURSIVE pairs AS ({_MINHASH_PAIRS_SQL}),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(a, b) AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
clusters AS (
    SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a
),
full_map AS (
    SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
),
q AS ({quality}),
scored AS (
    SELECT f.doc_id, f.cluster_id, q.passes_quality, q.n_words
    FROM full_map f JOIN q ON q.doc_id = f.doc_id
),
ranked AS (
    SELECT doc_id, cluster_id,
           ROW_NUMBER() OVER (PARTITION BY cluster_id
                              ORDER BY passes_quality DESC, n_words DESC,
                                       doc_id ASC) AS rk
    FROM scored
)
SELECT a.doc_id, a.cluster_id,
       CASE WHEN a.rk = 1 THEN 1 ELSE 0 END AS is_representative,
       b.doc_id AS rep_doc_id
FROM ranked a
JOIN (SELECT cluster_id, doc_id FROM ranked WHERE rk = 1) b
  ON b.cluster_id = a.cluster_id
"""


@register(
    "dedup_best_representative",
    oracle=_best_rep_oracle(),
    doc="quality-aware near-dup representative: per cluster the best "
    "member by (passes_quality, n_words, doc_id) survives — integer-"
    "deterministic argmax, one cluster_id window + same-key join back",
    tags=("pipeline", "dedup", "apply"),
)
def dedup_best_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_lakehouse_spark.pipeline.text import text_quality_score

    clus = dedup_clusters(spark, sf_dir).withColumnRenamed(
        "cluster_id", "cl_id"
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    full = d.join(clus, "doc_id", "left").select(
        "doc_id", F.coalesce("cl_id", "doc_id").alias("cluster_id")
    )
    qual = text_quality_score(spark, sf_dir).select(
        "doc_id", "n_words", "passes_quality"
    )
    scored = full.join(qual, "doc_id")
    from pyspark.sql import Window

    rk_w = Window.partitionBy("cluster_id").orderBy(
        F.col("passes_quality").desc(), F.col("n_words").desc(),
        F.col("doc_id").asc(),
    )
    ranked = scored.withColumn("rk", F.row_number().over(rk_w)).select(
        "doc_id", "cluster_id", "rk"
    )
    # ranked feeds both join sides (derived-frame self-join convention)
    ranked = ranked.persist()
    ranked.count()
    reps = ranked.filter(F.col("rk") == 1).select(
        "cluster_id", F.col("doc_id").alias("rep_doc_id")
    )
    out = ranked.join(reps, "cluster_id").select(
        "doc_id",
        "cluster_id",
        F.when(F.col("rk") == 1, 1).otherwise(0).alias("is_representative"),
        "rep_doc_id",
    )
    out = out.persist()
    out.count()
    ranked.unpersist()
    return out


# --- corpus-level line dedup (CCNet-style) -------------------------------------------
# The other axis of textual dedup: intradoc span dedup (text.py) removes
# repeats WITHIN a document; this removes segments repeated ACROSS the
# corpus — boilerplate headers/footers/navigation that survive doc-level
# near-dup because the surrounding text differs (the CCNet/RefinedWeb
# "line-level dedup" stage). A "line" here is a fixed non-overlapping
# 8-word window (the synthetic corpus has no newlines; the window plays
# the paragraph-line role deterministically).
#
# Scale shape: explode docs into (doc_id, line_no, line_hash) — map-side;
# ONE hash-keyed aggregate counts distinct docs per line (map-side
# combine, hash keys distribute evenly); segments re-join counts on the
# SAME key (no second shuffle of the corpus text — only 48-bit hashes
# move); one final doc_id aggregate rebuilds per-doc stats and the kept
# signature from hashes in line order. Nothing is all-pairs; the dup-line
# set is never collected or broadcast (it can be corpus-sized at 100 TB).

LINE_W = 8  # words per pseudo-line
LINE_DUP_DOCS = 2  # a line in >= 2 distinct docs is corpus-duplicated


@register(
    "dedup_corpus_lines",
    oracle=f"""
WITH segs AS (
    SELECT doc_id, j AS line_no,
           {sql_md5_hash48("array_to_string(ws[(j-1)*" + str(LINE_W) + "+1:j*" + str(LINE_W) + "], ' ')")} AS h
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) t,
         unnest(generate_series(1, len(ws) // {LINE_W})) AS u(j)
    WHERE len(ws) >= {LINE_W}
),
counts AS (
    SELECT h, COUNT(DISTINCT doc_id) AS ndocs FROM segs GROUP BY 1
),
marked AS (
    SELECT s.doc_id, s.line_no, s.h,
           CASE WHEN c.ndocs >= {LINE_DUP_DOCS} THEN 1 ELSE 0 END AS is_dup
    FROM segs s JOIN counts c USING (h)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(is_dup) AS BIGINT) AS n_dup_lines,
       substr(md5(COALESCE(array_to_string(
           list(CAST(h AS VARCHAR) ORDER BY line_no)
               FILTER (WHERE is_dup = 0), ' '), '')), 1, 12)
           AS kept_sig
FROM marked GROUP BY 1
""",
    doc="corpus-level line dedup (CCNet/RefinedWeb line stage): fixed "
    "8-word pseudo-lines hashed and counted across the corpus, lines in "
    ">=2 distinct docs marked duplicated, per-doc kept-line signature "
    "rebuilt from hashes in line order — two hash-keyed shuffles, text "
    "never re-shuffles, no broadcast of the (corpus-sized) dup set",
    tags=("pipeline", "dedup", "lines"),
)
def dedup_corpus_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", F.split("text", " ").alias("ws")).filter(
        F.size("ws") >= LINE_W
    )
    ws = F.col("ws")
    seg_hash = F.transform(
        # size >= LINE_W here, so the sequence is ascending (guard above);
        # floor() keeps the bound integral (a `/` would make it double)
        F.sequence(F.lit(1).cast("long"), F.floor(F.size(ws) / F.lit(LINE_W))),
        lambda j: spark_md5_hash48(
            F.concat_ws(" ", F.slice(ws, (j - 1) * F.lit(LINE_W) + 1, F.lit(LINE_W)))
        ),
    )
    segs = base.select(
        "doc_id", F.posexplode(seg_hash).alias("pos", "h")
    ).select("doc_id", (F.col("pos") + 1).alias("line_no"), "h")
    # segs feeds both the count side and the join-back (derived-frame
    # self-join convention: persist AND materialize)
    segs = segs.persist()
    segs.count()
    counts = segs.groupBy("h").agg(F.count_distinct("doc_id").alias("ndocs"))
    marked = segs.join(counts, "h").select(
        "doc_id",
        "line_no",
        "h",
        F.when(F.col("ndocs") >= LINE_DUP_DOCS, 1).otherwise(0).alias("is_dup"),
    )
    kept_sorted = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(
                    F.col("is_dup") == 0,
                    F.struct(F.col("line_no"), F.col("h").cast("string").alias("hs")),
                )
            )
        ),
        lambda s: s["hs"],
    )
    out = marked.groupBy("doc_id").agg(
        F.count("*").alias("n_lines"),
        F.sum("is_dup").cast("long").alias("n_dup_lines"),
        F.substring(F.md5(F.concat_ws(" ", kept_sorted)), 1, 12).alias("kept_sig"),
    )
    out = out.persist()
    out.count()
    segs.unpersist()
    return out
