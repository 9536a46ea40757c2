"""Similarity search over the ``embeddings`` table (``array<float>``):

- brute-force cosine top-k against a query vector (the exactness baseline)
- LSH-bucketed ANN (random-hyperplane signatures) — the scale path: the
  query probes one bucket instead of scanning the corpus.

Scale design: brute force is one scan + TakeOrderedAndProject (fine when the
corpus fits a scan budget; it parallelizes perfectly). The LSH variant's
signature build is map-side; search is a bucket-pruned scan. Hyperplanes are
derived from integer hashing (no transcendentals) so Spark and DuckDB
compute bit-identical signatures.
"""

from __future__ import annotations
from f1_lakehouse_spark.pinning import pin_small_result

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from f1_lakehouse_spark.pipeline.hashing import spark_salted_hash, sql_salted_hash
from f1_lakehouse_spark.registry import REGISTRY, register
from f1_lakehouse_spark.tables import cached_per_input, load_table

QUERY_VEC_ID = 0  # the corpus vector used as the search query
TOP_K = 10

# --- deterministic pseudo-random hyperplanes -------------------------------------
# r[j][i] = LCG(j*DIM + i) scaled to [-0.5, 0.5); division by 2^31 is exact
# in binary floating point, so both engines build identical planes.

N_PLANES = 8
DIM = 64
_LCG_A, _LCG_C, _LCG_M = 1103515245, 12345, 1 << 31


def _plane(j: int) -> list[float]:
    return [
        ((_LCG_A * (j * DIM + i) + _LCG_C) % _LCG_M) / _LCG_M - 0.5
        for i in range(DIM)
    ]


PLANES: list[list[float]] = [_plane(j) for j in range(N_PLANES)]


def make_planes(n: int, offset: int = 0) -> list[list[float]]:
    """n deterministic hyperplanes starting at index ``offset`` — callers
    that need independent plane families (e.g. banded dedup blocking) draw
    disjoint index ranges from the same LCG stream."""
    return [_plane(j) for j in range(offset, offset + n)]


def _spark_dot_lit(vec: Column, plane: list[float]) -> Column:
    """Left-fold dot of an array column with a literal plane."""
    arr = F.array(*[F.lit(v) for v in plane])
    return F.aggregate(
        F.zip_with(vec, arr, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _sql_plane_literal(plane: list[float]) -> str:
    return "[" + ", ".join(repr(v) for v in plane) + "]"


def _sql_dot(vec_expr: str, plane_expr: str) -> str:
    return (
        f"list_reduce(list_transform(generate_series(1, len({vec_expr})), "
        f"i -> CAST({vec_expr}[i] AS DOUBLE) * {plane_expr}[i]), (x, y) -> x + y)"
    )


# Column-tree memo for the hyperplane signature (r11, guide §4 driver-side
# boundary): building the 8-plane signature expression costs ~0.33 s of
# pure py4j round-trips (8 zip_with/aggregate lambdas over 64-float literal
# arrays), repeated at every query build. Column objects are immutable
# expression trees, not bound to a session, so one tree per (planes, input
# column) serves every caller. Keyed by the plane values and the input
# column's string form; entries are a handful of small trees.
_SIG_COL_MEMO: dict[tuple, Column] = {}


def spark_signature_planes(vec: Column, planes: list[list[float]]) -> Column:
    """sum over planes of (dot >= 0) * 2^j — an int bucket id."""
    key = (str(vec), tuple(tuple(p) for p in planes))
    hit = _SIG_COL_MEMO.get(key)
    if hit is not None:
        return hit
    sig = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        sig = sig + F.when(_spark_dot_lit(vec, plane) >= 0, F.lit(1 << j)).otherwise(
            F.lit(0)
        ).cast("long")
    _SIG_COL_MEMO[key] = sig
    return sig


def sql_signature_planes(vec_expr: str, planes: list[list[float]]) -> str:
    terms = []
    for j, plane in enumerate(planes):
        dot = _sql_dot(vec_expr, _sql_plane_literal(plane))
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << j} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def spark_signature(vec: Column) -> Column:
    return spark_signature_planes(vec, PLANES)


def _sql_signature(vec_expr: str) -> str:
    return sql_signature_planes(vec_expr, PLANES)


# public twin for other modules' oracles (dedup blocks near-dup candidates
# on the same hyperplane signatures)
sql_signature = _sql_signature


# --- input-size-adaptive signature width --------------------------------------------
# The r2 10x scale stress measured the fixed 8-bit bucket going quadratic
# (expected ~N^2/2^bits bucket pairs): signature bits must grow with
# log2(N / target_bucket). The sizing rule, engine-lockstep by integer
# thresholds (no float log2 whose rounding could diverge between engines):
#
#     nbits = smallest b in [LSH_MIN_BITS, LSH_MAX_BITS]
#             with N <= LSH_TARGET_BUCKET * 2^b
#
# LSH_MIN_BITS is the r2 constant, so every SF up to ~8k vectors sizes
# exactly as before (floor). Both engines compute the FULL-width signature
# and take it mod 2^nbits — sum(bit_j * 2^j) mod 2^n keeps exactly the low
# n planes, so the adaptive bucket equals the n-plane signature without
# either engine having to pick how many plane literals to expand.

LSH_TARGET_BUCKET = 16  # expected vectors per bucket at the chosen width
LSH_MIN_BITS = 8  # = r2's N_PLANES constant (floor; sf0.001-0.1 unchanged)
LSH_MAX_BITS = 24  # 16 * 2^24 ≈ 268M vectors; beyond that, band the planes


def adaptive_nbits(n_rows: int) -> int:
    """Smallest b in [MIN, MAX] with n_rows <= LSH_TARGET_BUCKET * 2^b."""
    b = LSH_MIN_BITS
    while b < LSH_MAX_BITS and n_rows > LSH_TARGET_BUCKET * (1 << b):
        b += 1
    return b


def sql_adaptive_bucket_mod(count_expr: str) -> str:
    """DuckDB twin of ``1 << adaptive_nbits(count)`` — the bucket modulus
    as an unrolled integer-threshold CASE (exact lockstep, no float log)."""
    cases = " ".join(
        f"WHEN ({count_expr}) <= {LSH_TARGET_BUCKET * (1 << b)} THEN {1 << b}"
        for b in range(LSH_MIN_BITS, LSH_MAX_BITS)
    )
    return f"(CASE {cases} ELSE {1 << LSH_MAX_BITS} END)"


PLANES_FULL: list[list[float]] = [_plane(j) for j in range(LSH_MAX_BITS)]


# --- brute-force cosine top-k -----------------------------------------------------

_SQL_COS_AB = (
    "list_reduce(list_transform(generate_series(1, len(a.embedding)), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)), (x,y) -> x+y)"
    " / (sqrt(list_reduce(list_transform(generate_series(1, len(a.embedding)), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), (x,y) -> x+y))"
    " * sqrt(list_reduce(list_transform(generate_series(1, len(q.embedding)), "
    "i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)), (x,y) -> x+y)))"
)


def _spark_cosine(a: Column, b: Column) -> Column:
    def dot(u, v):
        return F.aggregate(
            F.zip_with(u, v, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, v_: acc + v_,
        )

    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


@register(
    "ann_cosine_topk_bruteforce",
    oracle=f"""
SELECT a.vec_id, a.label, {_SQL_COS_AB} AS cosine
FROM embeddings a, (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
WHERE a.vec_id <> {QUERY_VEC_ID}
ORDER BY cosine DESC, a.vec_id
LIMIT {TOP_K}
""",
    doc="brute-force cosine top-10 vs query vector (exact ANN baseline)",
    tags=("pipeline", "similarity"),
)
def ann_cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).limit(1).select(
        F.col("embedding").alias("q_embedding")
    )
    return (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            _spark_cosine(F.col("embedding"), F.col("q_embedding")).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(TOP_K)
    )


# --- threshold (range) retrieval ----------------------------------------------------
# The retrieval dual of top-k: EVERY vector within a similarity radius of
# the query, however many there are — the shape behind "find all near-
# duplicates of this item" and recall-first retrieval (top-k truncates;
# range search does not). Map-only: broadcast the 1-row query, filter on
# cosine — no sort, no window, no shuffle of the corpus at all; at 100 TB
# the same filter runs bucket-pruned via the LSH index (ann_lsh_materialized)
# with multiprobe as the recall knob.

RANGE_TAU = 0.30


@register(
    "ann_range_search",
    oracle=f"""
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
SELECT a.vec_id, a.label, {_SQL_COS_AB} AS cosine
FROM embeddings a, q
WHERE a.vec_id <> {QUERY_VEC_ID} AND {_SQL_COS_AB} >= {RANGE_TAU}
""",
    doc=f"range search: every vector with cosine >= {RANGE_TAU} of the "
    "query (threshold retrieval — no top-k truncation); map-only broadcast "
    "filter, zero corpus shuffle",
    tags=("pipeline", "similarity", "range"),
)
def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).limit(1).select(
        F.col("embedding").alias("q_embedding")
    )
    return (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            _spark_cosine(F.col("embedding"), F.col("q_embedding")).alias("cosine"),
        )
        .filter(F.col("cosine") >= RANGE_TAU)
    )


# --- LSH-bucketed ANN ---------------------------------------------------------------


@register(
    "ann_cosine_topk_lsh",
    oracle=f"""
WITH sigs AS (
    SELECT vec_id, label, embedding,
           {_sql_signature("embedding")} AS bucket
    FROM embeddings
),
q AS (SELECT embedding, bucket FROM sigs WHERE vec_id = {QUERY_VEC_ID})
SELECT a.vec_id, a.label, {_SQL_COS_AB} AS cosine
FROM sigs a, q
WHERE a.vec_id <> {QUERY_VEC_ID} AND a.bucket = q.bucket
ORDER BY cosine DESC, a.vec_id
LIMIT {TOP_K}
""",
    doc="LSH(8 hyperplanes)-bucketed ANN: probe only the query's bucket",
    tags=("pipeline", "similarity", "lsh"),
)
def ann_cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    sigs = e.select(
        "vec_id", "label", "embedding", spark_signature(F.col("embedding")).alias("bucket")
    )
    q = sigs.filter(F.col("vec_id") == QUERY_VEC_ID).limit(1).select(
        F.col("embedding").alias("q_embedding"), F.col("bucket").alias("q_bucket")
    )
    return (
        sigs.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .filter(F.col("bucket") == F.col("q_bucket"))
        .select(
            "vec_id",
            "label",
            _spark_cosine(F.col("embedding"), F.col("q_embedding")).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(TOP_K)
    )


# --- materialized LSH index: signatures precomputed at ingest ----------------------
# At 100 TB the signature is computed ONCE when vectors land, not per query:
# the index table is hive-partitioned by bucket, so a probe is a
# partition-pruned scan of ~1/2^N_PLANES of the corpus (plus the int8
# quantized vectors for bandwidth-bound rerank pipelines). The registered
# query materializes the index (idempotent overwrite) and probes it with a
# LITERAL bucket filter — static partition pruning, visible in the plan as
# PartitionFilters — and must return exactly what the on-the-fly LSH query
# returns (same oracle).

import os as _os

ANN_INDEX_BASE = "/tmp/spark_graft_ann_index"


def _source_fingerprint(sf_dir: str) -> str:
    """mtime+size digest of the source parquet — a changed/regenerated
    source gets a new index path, so a stale index can never be probed."""
    p = _os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = _os.stat(p)
        return f"{int(st.st_mtime)}_{st.st_size}"
    except OSError:
        return "nosrc"


def materialize_ann_index(
    spark: SparkSession, sf_dir: str, base: str = ANN_INDEX_BASE
) -> str:
    """Write (vec_id, label, embedding, q_int8, bucket) partitioned by
    bucket. Idempotent the way ingest-time materialization is in
    production (S4's partition-skip semantics): the output path embeds a
    fingerprint of the source, and a completed write (_SUCCESS) is never
    repeated — so steady-state callers pay only the bucket-pruned probe,
    never the build. The bucket column doubles as the hive partition key
    so probes prune at the file listing."""
    out = _os.path.join(
        base,
        sf_dir.strip("/").replace("/", "_") + "_" + _source_fingerprint(sf_dir),
    )
    if _os.path.exists(_os.path.join(out, "_SUCCESS")):
        return out
    e = load_table(spark, sf_dir, "embeddings")
    q8 = F.transform(
        "embedding",
        lambda v: F.floor(
            F.greatest(F.lit(-1.0), F.least(F.lit(1.0), v.cast("double"))) * 127
            + F.lit(0.5)
        ).cast("tinyint"),
    )
    (
        e.select(
            "vec_id",
            "label",
            "embedding",
            q8.alias("q_int8"),
            spark_signature(F.col("embedding")).alias("bucket"),
        )
        .repartition("bucket")  # one shuffle -> one file per bucket partition
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(out)
    )
    return out


@register(
    "ann_lsh_materialized",
    oracle=f"""
WITH sigs AS (
    SELECT vec_id, label, embedding,
           {{sig}} AS bucket
    FROM embeddings
),
q AS (SELECT embedding, bucket FROM sigs WHERE vec_id = {QUERY_VEC_ID})
SELECT a.vec_id, a.label, {_SQL_COS_AB} AS cosine
FROM sigs a, q
WHERE a.vec_id <> {QUERY_VEC_ID} AND a.bucket = q.bucket
ORDER BY cosine DESC, a.vec_id
LIMIT {TOP_K}
""".format(sig=_sql_signature("embedding")),
    doc="ANN probe against the MATERIALIZED signature index: signatures "
    "computed at ingest, index hive-partitioned by bucket, probe filters "
    "on a literal bucket id -> static partition pruning at the scan. "
    "Result-identical to ann_cosine_topk_lsh (same oracle).",
    tags=("pipeline", "similarity", "lsh", "materialized"),
)
def ann_lsh_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = materialize_ann_index(spark, sf_dir)
    idx = spark.read.parquet(path)
    # query vector lookup is one partition-pruned row fetch; its bucket
    # becomes a LITERAL in the probe filter (static pruning, no join)
    qrow = (
        idx.filter(F.col("vec_id") == QUERY_VEC_ID).limit(1)
        .select("embedding", "bucket")
        .collect()[0]
    )
    q_emb = F.array(*[F.lit(float(v)) for v in qrow["embedding"]])
    return (
        idx.filter(
            (F.col("bucket") == int(qrow["bucket"]))
            & (F.col("vec_id") != QUERY_VEC_ID)
        )
        .select(
            "vec_id",
            "label",
            _spark_cosine(F.col("embedding"), q_emb).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(TOP_K)
    )


# --- bulk kNN: per-vector top-k neighbors, LSH-bucket-confined ----------------------
# The production shape for "embed the whole corpus, find every doc's
# neighbors": candidates come only from the vector's own LSH bucket (the
# same blocking that bounds dedup), then a per-vector ROW_NUMBER window
# keeps the k best by cosine. No all-pairs join anywhere; the window
# partitions by vec_id so the sort is per-vector, never global.

KNN_K = 3


@register(
    "ann_knn_self_join",
    oracle=f"""
WITH cnt AS (SELECT COUNT(*) AS n FROM embeddings),
sigs AS (
    SELECT vec_id, label, embedding,
           ({{sig}}) % {{bmod}} AS bucket
    FROM embeddings
),
pairs AS (
    SELECT a.vec_id, b.vec_id AS neighbor_id,
           {_SQL_COS_AB.replace("q.embedding", "b.embedding")} AS cosine
    FROM sigs a JOIN sigs b
      ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
),
ranked AS (
    SELECT vec_id, neighbor_id, cosine,
           ROW_NUMBER() OVER (
               PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS rk
    FROM pairs
)
SELECT vec_id, neighbor_id, cosine, rk FROM ranked WHERE rk <= {KNN_K}
""".format(
        sig=sql_signature_planes("embedding", PLANES_FULL),
        bmod=sql_adaptive_bucket_mod("SELECT n FROM cnt"),
    ),
    doc=f"bulk kNN self-join: every vector's top-{KNN_K} neighbors among its "
    "own LSH bucket (hyperplane blocking bounds the candidate join; "
    "per-vector window with neighbor_id tiebreaker keeps the ranking a "
    "total order). Bucket width is input-size-adaptive: "
    "nbits = min b with N <= 16*2^b, floor 8 — the r2 10x-stress fix, "
    "engine-lockstep via integer thresholds",
    tags=("pipeline", "similarity", "knn"),
)
def ann_knn_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    # one cheap count job sizes the bucket width (driver-side literal keeps
    # the signature a plain column expression); the oracle recomputes the
    # identical width from COUNT(*) via the integer-threshold CASE. Spark
    # computes only the first nbits planes — identical to the oracle's
    # full-signature mod 2^nbits, without paying for planes it discards.
    nbits = adaptive_nbits(e.count())
    sigs = e.select(
        "vec_id",
        "embedding",
        spark_signature_planes(F.col("embedding"), PLANES_FULL[:nbits]).alias(
            "bucket"
        ),
    )
    # self-join on a derived frame: persist + materialize first
    sigs = sigs.persist()
    sigs.count()
    a = sigs.alias("a")
    b = sigs.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_id"),
        F.col("b.vec_id").alias("neighbor_id"),
        _spark_cosine(F.col("a.embedding"), F.col("b.embedding")).alias("cosine"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    out = (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= KNN_K)
        .select("vec_id", "neighbor_id", "cosine", "rk")
    )
    out = out.persist()
    out.count()
    sigs.unpersist()
    return out


# --- IVF-style ANN: coarse cells + probe-one-cell ----------------------------------
# The inverted-file pattern: vectors are assigned to coarse cells; the query
# is matched to its nearest cell and only that cell's posting list is
# scanned. Here the `label` column stands in for trained k-means cells (at
# real scale the quantizer is trained offline; the probe shape is the same).
# Cell affinity uses mean dot product — identical to dot(query, centroid) —
# which both engines can compute without element-wise array aggregation;
# sums go through DECIMAL so the ranking is order-independent.

_SQL_DOT_QA = (
    "list_reduce(list_transform(generate_series(1, len(a.embedding)), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)), (x,y) -> x+y)"
)


@register(
    "ann_ivf_centroid_probe",
    oracle=f"""
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
affinity AS (
    SELECT a.label,
           CAST(SUM(CAST({_SQL_DOT_QA} AS DECIMAL(27,9))) AS DOUBLE) / COUNT(*)
               AS cell_score
    FROM embeddings a, q
    WHERE a.vec_id <> {QUERY_VEC_ID}
    GROUP BY a.label
),
best_cell AS (
    SELECT label FROM affinity ORDER BY cell_score DESC, label LIMIT 1
)
SELECT a.vec_id, a.label, {_SQL_COS_AB} AS cosine
FROM embeddings a, q
WHERE a.vec_id <> {QUERY_VEC_ID} AND a.label IN (SELECT label FROM best_cell)
ORDER BY cosine DESC, a.vec_id
LIMIT {TOP_K}
""",
    doc="IVF-style ANN: rank coarse cells by mean dot affinity, probe the best cell only",
    tags=("pipeline", "similarity", "ivf"),
)
def ann_ivf_centroid_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).limit(1).select(
        F.col("embedding").alias("q_embedding")
    )
    candidates = e.filter(F.col("vec_id") != QUERY_VEC_ID).crossJoin(F.broadcast(q))

    def dot(u, v):
        return F.aggregate(
            F.zip_with(u, v, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, v_: acc + v_,
        )

    affinity = (
        candidates.select(
            "label", dot(F.col("embedding"), F.col("q_embedding")).alias("d")
        )
        .groupBy("label")
        .agg(
            (F.sum(F.col("d").cast("decimal(27,9)")).cast("double") / F.count("*")).alias(
                "cell_score"
            )
        )
    )
    best_cell = affinity.orderBy(F.col("cell_score").desc(), "label").limit(1).select(
        "label"
    )
    return (
        candidates.join(F.broadcast(best_cell), "label")
        .select(
            "vec_id",
            "label",
            _spark_cosine(F.col("embedding"), F.col("q_embedding")).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(TOP_K)
    )


# --- per-cell centroids (the IVF "training" aggregation) ---------------------------
# Element-wise mean of array<float> per label: posexplode → (label, dim)
# aggregate. Decimal accumulation keeps per-dimension means exact, so the
# centroid table is bit-identical across engines/parallelism.


@register(
    "embedding_label_centroids",
    oracle=f"""
SELECT label, CAST(i AS INTEGER) - 1 AS dim,
       CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e9 + 0.5)
                     AS DECIMAL(38,0))) AS DOUBLE)
           / (COUNT(*) * 1e9) AS centroid
FROM embeddings, range(1, {DIM + 1}) t(i)
GROUP BY 1, 2
""",
    doc="per-label centroid vectors: element-wise mean over 1e-9-quantized "
    "components. floor(v*1e9 + 0.5) is tie-free (a double->DECIMAL(x,9) "
    "cast rounds ties differently across engines — caught at sf0.1), the "
    "scaled-integer sum is exact in DECIMAL(38,0), so the result is "
    "order-independent and bit-identical",
    tags=("pipeline", "similarity", "centroid"),
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    exploded = e.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    )
    scaled = F.floor(F.col("v").cast("double") * F.lit(1e9) + F.lit(0.5)).cast(
        "decimal(38,0)"
    )
    return exploded.groupBy("label", "dim").agg(
        (F.sum(scaled).cast("double") / (F.count("*") * F.lit(1e9))).alias(
            "centroid"
        )
    )


# --- int8 quantization (embedding storage compression) ------------------------------
# The standard 4x storage cut before ANN serving. floor(x*127 + 0.5) instead
# of round(): engines disagree on rounding-mode edge cases, floor doesn't.
# Emitted per-dimension (array-typed outputs don't hash portably).


@register(
    "embedding_quantize_int8",
    oracle=f"""
SELECT vec_id, CAST(i AS INTEGER) - 1 AS dim,
       CAST(floor(greatest(-1.0, least(1.0, CAST(embedding[i] AS DOUBLE))) * 127 + 0.5)
            AS INTEGER) AS q
FROM embeddings, range(1, {DIM + 1}) t(i)
""",
    doc="int8 quantization of embeddings (clamp to [-1,1], floor-based rounding)",
    tags=("pipeline", "similarity", "quantize"),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    x = F.col("v").cast("double")
    clamped = F.greatest(F.lit(-1.0), F.least(F.lit(1.0), x))
    return e.select("vec_id", F.posexplode("embedding").alias("dim", "v")).select(
        "vec_id",
        "dim",
        F.floor(clamped * 127 + F.lit(0.5)).cast("int").alias("q"),
    )


# --- k-means-trained IVF (Lloyd's algorithm, deterministic + oracle-exact) ----------
# The real inverted-file quantizer: K coarse centroids TRAINED on the corpus
# (not a stand-in label), fixed seed vectors + a fixed number of Lloyd
# iterations so the whole training run is deterministic and expressible as
# unrolled SQL — the iterative algorithm itself is differentially checked.
#
# Scale shape per iteration (what survives 100 TB):
# - assignment is MAP-ONLY: the K centroids are collected to the driver
#   (K x DIM doubles, a few KB) and embedded as literal arrays, so each
#   vector computes K left-fold distances in one scan — no join, no
#   shuffle, no row blowup (this is how MLlib's k-means broadcasts too);
# - the mean update is ONE shuffle of (cid, dim) scaled-integer partial
#   sums with map-side combine.
# Determinism chain: seed centroids are corpus vectors; distance is a
# left-fold in index order (IEEE-identical in both engines); argmin
# tiebreaks on centroid id; means go through the floor(v*1e9+0.5) scaled
# DECIMAL sum (exact, order-independent) with one double division at the
# end. Every link is bit-reproducible, so after T iterations both engines
# hold the SAME model.

KMEANS_K = 8
KMEANS_ITERS = 2


def _sql_l2(vec_expr: str, cvec_expr: str) -> str:
    d = f"(CAST({vec_expr}[i] AS DOUBLE) - {cvec_expr}[i])"
    return (
        f"list_reduce(list_transform(generate_series(1, {DIM}), "
        f"i -> {d} * {d}), (x, y) -> x + y)"
    )


def _sql_assign(src_centroids: str, out: str) -> str:
    """One assignment CTE pair: argmin_{cid} L2(vec, centroid), ties -> min cid."""
    return f"""
{out}_rk AS (
    SELECT v.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {_sql_l2("v.embedding", "c.cvec")}, c.cid) AS rn
    FROM embeddings v, {src_centroids} c
),
{out} AS (SELECT vec_id, cid FROM {out}_rk WHERE rn = 1)"""


def _sql_update(assign: str, out: str) -> str:
    """One mean-update CTE pair: scaled-decimal element-wise mean per cell."""
    return f"""
{out}_m AS (
    SELECT a.cid, CAST(i AS INTEGER) - 1 AS dim,
           CAST(SUM(CAST(floor(CAST(v.embedding[i] AS DOUBLE) * 1e9 + 0.5)
                         AS DECIMAL(38,0))) AS DOUBLE) / (COUNT(*) * 1e9) AS val
    FROM {assign} a JOIN embeddings v USING (vec_id), range(1, {DIM + 1}) t(i)
    GROUP BY 1, 2
),
{out} AS (SELECT cid, list(val ORDER BY dim) AS cvec FROM {out}_m GROUP BY cid)"""


_KMEANS_ORACLE = f"""
WITH c0 AS (
    SELECT vec_id AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
    FROM embeddings WHERE vec_id < {KMEANS_K}
),{_sql_assign("c0", "a1")},{_sql_update("a1", "c1")},
{_sql_assign("c1", "a2")},{_sql_update("a2", "c2")},
{_sql_assign("c2", "a3")},
q AS (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
qcell AS (SELECT cid FROM a3 WHERE vec_id = {QUERY_VEC_ID})
SELECT a.vec_id, CAST(f.cid AS INTEGER) AS cell, {_SQL_COS_AB} AS cosine
FROM embeddings a JOIN a3 f USING (vec_id), q
WHERE f.cid IN (SELECT cid FROM qcell) AND a.vec_id <> {QUERY_VEC_ID}
ORDER BY cosine DESC, a.vec_id
LIMIT {TOP_K}
"""


def _spark_l2_lit(vec: Column, centroid: list[float]) -> Column:
    arr = F.array(*[F.lit(float(v)) for v in centroid])
    return F.aggregate(
        F.zip_with(vec, arr, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _spark_assign(e: DataFrame, centroids: dict[int, list[float]]) -> DataFrame:
    """Map-only argmin over K literal centroids: array_min of (dist, cid)
    structs — struct ordering gives the (min dist, then min cid) tiebreak."""
    cells = F.array(
        *[
            F.struct(
                _spark_l2_lit(F.col("embedding"), cvec).alias("d"),
                F.lit(cid).alias("cid"),
            )
            for cid, cvec in sorted(centroids.items())
        ]
    )
    return e.withColumn("cid", F.array_min(cells)["cid"])


def _spark_update(assigned: DataFrame) -> dict[int, list[float]]:
    """One Lloyd mean update; returns the (tiny) new model to the driver."""
    exploded = assigned.select("cid", F.posexplode("embedding").alias("dim", "v"))
    scaled = F.floor(F.col("v").cast("double") * F.lit(1e9) + F.lit(0.5)).cast(
        "decimal(38,0)"
    )
    rows = (
        exploded.groupBy("cid", "dim")
        .agg((F.sum(scaled).cast("double") / (F.count("*") * F.lit(1e9))).alias("val"))
        .collect()
    )
    model: dict[int, list[float]] = {}
    for r in rows:
        model.setdefault(r["cid"], [0.0] * DIM)[r["dim"]] = r["val"]
    return model


# Cached like _pq_trained_models / top_pc_vector: the coarse quantizer is
# the same trained model for every consumer (ann_ivf_kmeans, semdedup), and
# the model is driver-side tiny (K x DIM floats).
@cached_per_input("embeddings")
def _train_kmeans(
    spark: SparkSession, sf_dir: str, e: DataFrame
) -> dict[int, list[float]]:
    """K corpus-seeded centroids after KMEANS_ITERS Lloyd iterations — the
    deterministic training chain shared by ann_ivf_kmeans and semdedup,
    cached per (session, input); on a miss the frame is persisted for the
    iteration scans."""
    e = e.persist()
    e.count()  # materialize: assign+update scan per iteration
    seeds = e.filter(F.col("vec_id") < KMEANS_K).collect()
    model = {int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in seeds}
    for _ in range(KMEANS_ITERS):
        model = _spark_update(_spark_assign(e, model))
    e.unpersist()
    return model


@register(
    "ann_ivf_kmeans",
    oracle=_KMEANS_ORACLE,
    doc=f"IVF with a TRAINED coarse quantizer: {KMEANS_K} k-means centroids "
    f"(seeded from corpus vectors, {KMEANS_ITERS} Lloyd iterations, "
    "map-only literal-broadcast assignment + one-shuffle decimal mean "
    "update per iteration), then probe the query's cell only. The oracle "
    "unrolls the SAME iterations in SQL, so the iterative training is "
    "differentially verified, not just the probe.",
    tags=("pipeline", "similarity", "ivf", "kmeans"),
)
def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    final = _spark_assign(e, _train_kmeans(spark, sf_dir, e))
    q = final.filter(F.col("vec_id") == QUERY_VEC_ID).collect()[0]
    q_emb = F.array(*[F.lit(float(v)) for v in q["embedding"]])
    return (
        final.filter(
            (F.col("cid") == int(q["cid"])) & (F.col("vec_id") != QUERY_VEC_ID)
        )
        .select(
            "vec_id",
            F.col("cid").cast("int").alias("cell"),
            _spark_cosine(F.col("embedding"), q_emb).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(TOP_K)
    )


# --- product quantization (PQ) ------------------------------------------------------
# The classic ANN compression step beyond scalar int8 quantization
# (embedding_quantize_int8): split each vector into PQ_M subvectors and
# k-means-code each subspace separately — 64 floats become PQ_M small
# integer codes (+ a codebook of PQ_M * PQ_K subvectors). At 100 TB this is
# what makes a re-rankable index fit in memory: codes are bytes, the
# codebook is broadcast, and distance evaluation is PQ_M table lookups.
# Training reuses the ann_ivf_kmeans determinism chain per subspace (seed
# subvectors from the corpus, IEEE left-fold L2, struct-argmin tiebreak on
# code id, floor-scaled DECIMAL means), so codes AND reconstruction error
# are bit-identical vs the unrolled-CTE oracle.

PQ_M = 4
PQ_SUBDIM = DIM // PQ_M
PQ_K = 4


def _sql_l2_sub(vec_expr: str, cvec_expr: str) -> str:
    d = f"(CAST({vec_expr}[i] AS DOUBLE) - {cvec_expr}[i])"
    return (
        f"list_reduce(list_transform(generate_series(1, {PQ_SUBDIM}), "
        f"i -> {d} * {d}), (x, y) -> x + y)"
    )


def _sql_pq_subspace(m: int) -> str:
    s, e = m * PQ_SUBDIM + 1, (m + 1) * PQ_SUBDIM
    sub = f"list_slice(v.embedding, {s}, {e})"
    l2_c0 = _sql_l2_sub(sub, "c.cvec")
    return f"""
c0_{m} AS (
  SELECT vec_id AS cid,
         list_transform(list_slice(embedding, {s}, {e}),
                        x -> CAST(x AS DOUBLE)) AS cvec
  FROM embeddings WHERE vec_id < {PQ_K}
),
a1_{m}_rk AS (
  SELECT v.vec_id, c.cid,
         ROW_NUMBER() OVER (PARTITION BY v.vec_id
                            ORDER BY {l2_c0}, c.cid) AS rn
  FROM embeddings v, c0_{m} c
),
a1_{m} AS (SELECT vec_id, cid FROM a1_{m}_rk WHERE rn = 1),
c1_{m}_d AS (
  SELECT a.cid, CAST(i AS INTEGER) - 1 AS dim,
         CAST(SUM(CAST(floor(CAST(v.embedding[{m * PQ_SUBDIM} + i] AS DOUBLE)
                             * 1e9 + 0.5) AS DECIMAL(38,0))) AS DOUBLE)
           / (COUNT(*) * 1e9) AS val
  FROM a1_{m} a JOIN embeddings v USING (vec_id), range(1, {PQ_SUBDIM + 1}) t(i)
  GROUP BY 1, 2
),
c1_{m} AS (SELECT cid, list(val ORDER BY dim) AS cvec FROM c1_{m}_d GROUP BY cid),
a2_{m}_rk AS (
  SELECT v.vec_id, c.cid, {l2_c0} AS d,
         ROW_NUMBER() OVER (PARTITION BY v.vec_id
                            ORDER BY {l2_c0}, c.cid) AS rn
  FROM embeddings v, c1_{m} c
),
a2_{m} AS (SELECT vec_id, cid, d FROM a2_{m}_rk WHERE rn = 1)"""


_PQ_ORACLE = (
    "WITH "
    + ",".join(_sql_pq_subspace(m).lstrip() for m in range(PQ_M))
    + f"""
SELECT p0.vec_id,
       CAST(p0.cid AS INTEGER) AS code_0, CAST(p1.cid AS INTEGER) AS code_1,
       CAST(p2.cid AS INTEGER) AS code_2, CAST(p3.cid AS INTEGER) AS code_3,
       (((p0.d + p1.d) + p2.d) + p3.d) AS recon_err
FROM a2_0 p0 JOIN a2_1 p1 USING (vec_id)
             JOIN a2_2 p2 USING (vec_id)
             JOIN a2_3 p3 USING (vec_id)
"""
)


def _pq_sub(m: int):
    return F.slice("embedding", m * PQ_SUBDIM + 1, PQ_SUBDIM)


def _pq_best(model_m: dict[int, list[float]], m: int):
    """(min L2, then min code) struct-argmin over literal subspace codebook."""
    cells = F.array(
        *[
            F.struct(
                _spark_l2_lit(_pq_sub(m), cvec).alias("d"),
                F.lit(cid).alias("cid"),
            )
            for cid, cvec in sorted(model_m.items())
        ]
    )
    return F.array_min(cells)


def _pq_update(e: DataFrame, model_m: dict[int, list[float]], m: int) -> dict[int, list[float]]:
    """One Lloyd mean update in subspace m (floor-scaled decimal means)."""
    assigned = e.withColumn("cid", _pq_best(model_m, m)["cid"])
    exploded = assigned.select("cid", F.posexplode(_pq_sub(m)).alias("dim", "v"))
    scaled = F.floor(F.col("v").cast("double") * F.lit(1e9) + F.lit(0.5)).cast(
        "decimal(38,0)"
    )
    rows = (
        exploded.groupBy("cid", "dim")
        .agg((F.sum(scaled).cast("double") / (F.count("*") * F.lit(1e9))).alias("val"))
        .collect()
    )
    model: dict[int, list[float]] = {}
    for r in rows:
        model.setdefault(r["cid"], [0.0] * PQ_SUBDIM)[r["dim"]] = r["val"]
    return model


@register(
    "ann_pq_codes",
    oracle=_PQ_ORACLE,
    doc="product quantization: per-subspace k-means codes + exact "
    "reconstruction error, bit-identical to the unrolled-CTE oracle",
    tags=("pipeline", "similarity", "pq"),
)
def ann_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    trained_list, _ = _pq_trained_models(spark, sf_dir, e)  # shared cache
    bests = []
    for m in range(PQ_M):
        bests.append(_pq_best(trained_list[m], m))
    err = ((bests[0]["d"] + bests[1]["d"]) + bests[2]["d"]) + bests[3]["d"]
    return e.select(
        "vec_id",
        *[bests[m]["cid"].cast("int").alias(f"code_{m}") for m in range(PQ_M)],
        err.alias("recon_err"),
    )


# --- L2 normalization ---------------------------------------------------------------
# Unit-normalizing the embedding column is the precondition for treating
# dot product as cosine (fast path for every downstream similarity op).
# sqrt is IEEE-754 correctly rounded, and the norm accumulates via the
# same left-fold both engines run in index order, so normalized values are
# bit-identical. Output keeps SCALAR columns only (the driver's comparator
# can't hash array cells): the norm and two probe dimensions.

_SQL_NORM_V = (
    "sqrt(list_reduce(list_transform(generate_series(1, len(embedding)), "
    "i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), (x,y) -> x+y))"
)


@register(
    "embedding_l2_normalize",
    oracle=f"""
SELECT vec_id, label,
       {_SQL_NORM_V} AS l2_norm,
       CAST(embedding[1] AS DOUBLE) / {_SQL_NORM_V} AS unit_d1,
       CAST(embedding[2] AS DOUBLE) / {_SQL_NORM_V} AS unit_d2
FROM embeddings
""",
    doc="L2 vector normalization (norm + probe dims; map-only, bit-exact)",
    tags=("pipeline", "similarity", "normalize"),
)
def embedding_l2_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        F.transform(F.col("embedding"), lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm = F.sqrt(sq)
    return e.select(
        "vec_id",
        "label",
        norm.alias("l2_norm"),
        (F.element_at("embedding", 1).cast("double") / norm).alias("unit_d1"),
        (F.element_at("embedding", 2).cast("double") / norm).alias("unit_d2"),
    )


# --- ANN quality evaluation: recall@k of the LSH probe vs exact brute force ---------
# The metric a real vector platform reports next to its index: of the exact
# top-k neighbors, how many does the approximate probe return? Both sides
# are fully deterministic here (left-fold dots, vec_id tiebreakers), so the
# recall itself is oracle-checkable — the evaluation harness rides the same
# differential gate as the operators it measures. At scale both arms are
# the already-scale-safe queries (scan+TakeOrdered vs bucket-pruned probe);
# the comparison is a k-row join.


@register(
    "ann_lsh_recall",
    oracle=f"""
WITH brute AS (
    SELECT a.vec_id
    FROM embeddings a,
         (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
    WHERE a.vec_id <> {QUERY_VEC_ID}
    ORDER BY {_SQL_COS_AB} DESC, a.vec_id
    LIMIT {TOP_K}
),
sigs AS (
    SELECT vec_id, embedding, {_sql_signature("embedding")} AS bucket
    FROM embeddings
),
lsh AS (
    SELECT a.vec_id
    FROM sigs a, (SELECT embedding, bucket FROM sigs
                  WHERE vec_id = {QUERY_VEC_ID}) q
    WHERE a.vec_id <> {QUERY_VEC_ID} AND a.bucket = q.bucket
    ORDER BY {_SQL_COS_AB} DESC, a.vec_id
    LIMIT {TOP_K}
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_hits,
       CAST({TOP_K} AS BIGINT) AS k,
       CAST(COUNT(*) AS DOUBLE) / {TOP_K} AS recall_at_k
FROM brute JOIN lsh USING (vec_id)
""",
    doc=f"recall@{TOP_K} of the LSH bucket probe against the exact "
    "brute-force top-k — the index-quality metric, itself differentially "
    "checked (both arms deterministic)",
    tags=("pipeline", "similarity", "eval"),
)
def ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    brute = ann_cosine_topk_bruteforce(spark, sf_dir).select("vec_id")
    lsh = ann_cosine_topk_lsh(spark, sf_dir).select("vec_id")
    hits = brute.join(lsh, "vec_id").agg(F.count("*").alias("n"))
    return hits.select(
        F.col("n").cast("long").alias("n_hits"),
        F.lit(TOP_K).cast("long").alias("k"),
        (F.col("n").cast("double") / TOP_K).alias("recall_at_k"),
    )


# --- PQ asymmetric-distance search (ADC) --------------------------------------------
# The production PQ query path: the query vector stays EXACT, every corpus
# vector is its PQ_M codes, and distance is PQ_M lookups into a per-query
# table of (query subvector -> centroid) distances. At 100 TB: codes are
# bytes (the only thing scanned), the PQ_M x PQ_K lookup table is literal
# in the plan (driver-computed once per query, like the trained codebook),
# and scoring + top-k is map-only + TakeOrderedAndProject. Determinism:
# the lookup distances are the same left-fold L2 both engines run, and
# the 4-term sum is identically parenthesized.


# the WITH-chain through the ADC-scored corpus, shared by the plain ADC
# top-k and the rerank composition
_PQ_ADC_SCORED_SQL = (
    "WITH "
    + ",".join(_sql_pq_subspace(m).lstrip() for m in range(PQ_M))
    + ","
    + ",".join(
        f"""
lut_{m} AS (
  SELECT c.cid, {_sql_l2_sub(
      f"list_slice(q.embedding, {m * PQ_SUBDIM + 1}, {(m + 1) * PQ_SUBDIM})",
      "c.cvec")} AS d
  FROM c1_{m} c, (SELECT embedding FROM embeddings
                  WHERE vec_id = {QUERY_VEC_ID}) q
)"""
        for m in range(PQ_M)
    )
    + f""",
scored AS (
SELECT p0.vec_id, (((l0.d + l1.d) + l2.d) + l3.d) AS adc_dist
FROM a2_0 p0 JOIN a2_1 p1 USING (vec_id)
             JOIN a2_2 p2 USING (vec_id)
             JOIN a2_3 p3 USING (vec_id)
JOIN lut_0 l0 ON l0.cid = p0.cid
JOIN lut_1 l1 ON l1.cid = p1.cid
JOIN lut_2 l2 ON l2.cid = p2.cid
JOIN lut_3 l3 ON l3.cid = p3.cid
WHERE p0.vec_id <> {QUERY_VEC_ID}
)"""
)


@register(
    "ann_pq_adc_topk",
    oracle=_PQ_ADC_SCORED_SQL
    + f"""
SELECT vec_id, adc_dist FROM scored
ORDER BY adc_dist, vec_id
LIMIT {TOP_K}
""",
    doc=f"PQ asymmetric-distance top-{TOP_K}: exact query vs PQ-coded "
    "corpus — per-subspace lookup tables literal in the plan, scoring "
    "map-only, top-k via TakeOrderedAndProject",
    tags=("pipeline", "similarity", "pq"),
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e, scored, _ = _pq_adc_scored(spark, sf_dir)
    return scored.orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc()).limit(TOP_K)


def _pq_adc_scored(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, list[float]]:
    """(embeddings frame, ADC-scored frame, query embedding) — the shared
    front half of the PQ search path (ann_pq_adc_topk / ann_pq_rerank)."""
    e, adc, q_emb = _pq_adc_expr(spark, sf_dir)
    scored = e.filter(F.col("vec_id") != QUERY_VEC_ID).select(
        "vec_id", adc.alias("adc_dist")
    )
    return e, scored, q_emb


# The trained per-subspace PQ codebooks (+ the query embedding, which the
# seed collect already carries) are identical for every PQ consumer in a
# session — ADC top-k, rerank, distortion audit, the composed IVF-PQ chain
# and its recall measurement — yet each call re-ran the PQ_M training
# scans. One (session, input)-keyed cache of the DRIVER-SIDE model (tiny:
# PQ_M x PQ_K x SUBDIM floats, no executor storage), same discipline as
# text.char_trigram_frame / top_pc_vector.
@cached_per_input("embeddings")
def _pq_trained_models(
    spark: SparkSession, sf_dir: str, e: DataFrame
) -> tuple[list[dict[int, list[float]]], list[float]]:
    """([per-subspace trained codebooks], query embedding), cached per
    (session, sf_dir); on a miss the embeddings frame is persisted for the
    PQ_M training scans and released before returning."""
    e = e.persist()
    e.count()  # materialize: scanned once per subspace below
    seed_rows = e.filter(F.col("vec_id") < PQ_K).collect()
    seeds = {
        m: {
            int(r["vec_id"]): [float(x) for x in r["embedding"]][
                m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM
            ]
            for r in seed_rows
        }
        for m in range(PQ_M)
    }
    q_emb = next(
        [float(x) for x in r["embedding"]]
        for r in seed_rows
        if int(r["vec_id"]) == QUERY_VEC_ID
    )
    trained_list = [_pq_update(e, seeds[m], m) for m in range(PQ_M)]
    e.unpersist()
    return trained_list, q_emb


def _pq_adc_expr(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, Column, list[float]]:
    """(embeddings frame, ADC distance Column over an ``embedding`` column,
    query embedding). The Column closes over the trained per-subspace
    codebooks + query lookup tables as literals, so callers can apply it to
    ANY frame carrying ``embedding`` — e.g. only the IVF-probed cell."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    trained_list, q_emb = _pq_trained_models(spark, sf_dir, e)
    luts: list[dict[int, float]] = []
    codes = []
    for m in range(PQ_M):
        trained = trained_list[m]  # one Lloyd iteration, as codes op
        codes.append(_pq_best(trained, m)["cid"])
        q_sub = q_emb[m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
        # same left-fold the SQL runs: sum_i (q_i - c_i)^2 in index order
        luts.append(
            {
                cid: _py_l2(q_sub, cvec)
                for cid, cvec in trained.items()
            }
        )
    def lookup(m: int):
        # CASE on the ACTUAL cid values, not positional element_at: a
        # centroid can lose all members in the Lloyd update (degenerate
        # seeds), leaving non-contiguous cids — positional indexing would
        # then return NULL distances that sort to the top, while the SQL
        # oracle joins its lut ON cid and stays correct
        expr = None
        for cid, dist in sorted(luts[m].items()):
            cond = codes[m] == F.lit(cid)
            expr = (
                F.when(cond, F.lit(dist))
                if expr is None
                else expr.when(cond, F.lit(dist))
            )
        return expr  # total: codes[m] is always a trained cid
    adc = ((lookup(0) + lookup(1)) + lookup(2)) + lookup(3)
    return e, adc, q_emb


def _py_l2(a: list[float], b: list[float]) -> float:
    """Driver-side twin of the engines' left-fold L2 (identical IEEE order)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + (x - y) * (x - y)
    return acc


# 12-plane twin of ann_lsh_recall: quantifies the sizing rule in the other
# direction — more bits => smaller buckets => faster probe, LOWER recall.
# Paired with the 10x stress finding (8-bit buckets go quadratic as the
# corpus grows), the two recall rows are the measured two-sided trade the
# bits-per-band formula navigates.

N_PLANES_WIDE = 12
PLANES_WIDE = make_planes(N_PLANES_WIDE)


@register(
    "ann_lsh_recall_12planes",
    oracle=f"""
WITH brute AS (
    SELECT a.vec_id
    FROM embeddings a,
         (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
    WHERE a.vec_id <> {QUERY_VEC_ID}
    ORDER BY {_SQL_COS_AB} DESC, a.vec_id
    LIMIT {TOP_K}
),
sigs AS (
    SELECT vec_id, embedding,
           {sql_signature_planes("embedding", PLANES_WIDE)} AS bucket
    FROM embeddings
),
lsh AS (
    SELECT a.vec_id
    FROM sigs a, (SELECT embedding, bucket FROM sigs
                  WHERE vec_id = {QUERY_VEC_ID}) q
    WHERE a.vec_id <> {QUERY_VEC_ID} AND a.bucket = q.bucket
    ORDER BY {_SQL_COS_AB} DESC, a.vec_id
    LIMIT {TOP_K}
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_hits,
       CAST({TOP_K} AS BIGINT) AS k,
       CAST(COUNT(*) AS DOUBLE) / {TOP_K} AS recall_at_k
FROM brute JOIN lsh USING (vec_id)
""",
    doc=f"recall@{TOP_K} of a {N_PLANES_WIDE}-plane (narrower-bucket) LSH "
    "probe — the measured other side of the bits-per-bucket trade vs "
    "ann_lsh_recall's 8 planes",
    tags=("pipeline", "similarity", "eval"),
)
def ann_lsh_recall_12planes(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    brute = ann_cosine_topk_bruteforce(spark, sf_dir).select("vec_id")
    sigs = e.select(
        "vec_id",
        "embedding",
        spark_signature_planes(F.col("embedding"), PLANES_WIDE).alias("bucket"),
    )
    q = sigs.filter(F.col("vec_id") == QUERY_VEC_ID).limit(1).select(
        F.col("embedding").alias("q_embedding"), F.col("bucket").alias("q_bucket")
    )
    lsh = (
        sigs.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .filter(F.col("bucket") == F.col("q_bucket"))
        .select(
            "vec_id",
            _spark_cosine(F.col("embedding"), F.col("q_embedding")).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(TOP_K)
        .select("vec_id")
    )
    hits = brute.join(lsh, "vec_id").agg(F.count("*").alias("n"))
    return hits.select(
        F.col("n").cast("long").alias("n_hits"),
        F.lit(TOP_K).cast("long").alias("k"),
        (F.col("n").cast("double") / TOP_K).alias("recall_at_k"),
    )


# --- SemDeDup: semantic dedup via k-means cluster pruning ----------------------------
# Abbas et al. 2023 ("SemDeDup: Data-efficient learning at web-scale through
# semantic deduplication"): cluster the embedding space with k-means, then
# search for near-duplicate pairs ONLY within each cluster — the cluster
# radius bounds the quadratic all-pairs work to (N/K)^2 per cell instead of
# N^2, and at 100 TB K is chosen so cells hold ~10^3 vectors. Training reuses
# the ann_ivf_kmeans determinism chain (corpus seeds, IEEE left-fold L2,
# struct-argmin tiebreak, floor-scaled DECIMAL means), so the trained cells —
# and therefore the pruning decisions — are bit-identical vs the unrolled-CTE
# oracle. Keep rule: within a cell, a vector is pruned when a lower-vec_id
# cell-mate has cosine >= SEMDEDUP_THRESHOLD (deterministic stand-in for the
# paper's keep-one-random; the synthetic 64-dim corpus tops out ~0.47
# same-label cosine, so 0.40 exercises the operator — same bar as
# dedup_embedding_cosine).

SEMDEDUP_THRESHOLD = 0.40

_SQL_COS_PAIR = (
    "(list_reduce(list_transform(generate_series(1, len(a.embedding)), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x,y) -> x+y)"
    " / (sqrt(list_reduce(list_transform(generate_series(1, len(a.embedding)), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), (x,y) -> x+y))"
    " * sqrt(list_reduce(list_transform(generate_series(1, len(b.embedding)), "
    "i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x,y) -> x+y))))"
)

_SEMDEDUP_ORACLE = f"""
WITH c0 AS (
    SELECT vec_id AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
    FROM embeddings WHERE vec_id < {KMEANS_K}
),{_sql_assign("c0", "a1")},{_sql_update("a1", "c1")},
{_sql_assign("c1", "a2")},{_sql_update("a2", "c2")},
{_sql_assign("c2", "a3")},
dup AS (
    SELECT DISTINCT fb.vec_id AS vec_id
    FROM a3 fa
    JOIN a3 fb ON fa.cid = fb.cid AND fa.vec_id < fb.vec_id
    JOIN embeddings a ON a.vec_id = fa.vec_id
    JOIN embeddings b ON b.vec_id = fb.vec_id
    WHERE {_SQL_COS_PAIR} >= {SEMDEDUP_THRESHOLD}
)
SELECT f.vec_id, CAST(f.cid AS INTEGER) AS cell,
       CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS keep
FROM a3 f LEFT JOIN dup d ON d.vec_id = f.vec_id
"""


@register(
    "semdedup_cluster_prune",
    oracle=_SEMDEDUP_ORACLE,
    doc=f"SemDeDup: k-means-clustered semantic dedup — within-cell cosine "
    f">= {SEMDEDUP_THRESHOLD} prunes to the lowest-vec_id representative; "
    "the trained clustering itself is differentially verified",
    tags=("pipeline", "dedup", "semdedup", "kmeans"),
)
def semdedup_cluster_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    final = _spark_assign(e, _train_kmeans(spark, sf_dir, e))
    # self-join on a derived frame: persist AND materialize first (CLAUDE.md)
    final = final.persist()
    final.count()
    a = final.alias("a")
    b = final.alias("b")
    dup = (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(
            _spark_cosine(F.col("a.embedding"), F.col("b.embedding"))
            >= F.lit(SEMDEDUP_THRESHOLD)
        )
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    out = final.join(dup, "vec_id", "left").select(
        "vec_id",
        F.col("cid").cast("int").alias("cell"),
        F.when(F.col("is_dup").isNull(), 1).otherwise(0).alias("keep"),
    )
    out = out.persist()
    out.count()
    final.unpersist()
    return out


# --- two-stage retrieval: PQ coarse search + exact rerank ----------------------------
# The production retrieval shape (IVFPQ-style): the cheap compressed
# index ranks the whole corpus (bytes scanned, map-only ADC), a top-R
# candidate slice survives, and only those R rows pay for the exact
# full-width cosine. At 100 TB the corpus is never touched at full
# precision — the rerank join is a broadcast of R ids back into the
# (partition-pruned) embedding store. Both stages keep total orders
# (adc_dist then vec_id; cosine then vec_id), so the composition is
# deterministic end to end and the oracle composes the same two stages.

RERANK_R = 50


@register(
    "ann_pq_rerank",
    oracle=_PQ_ADC_SCORED_SQL
    + f""",
coarse AS (
    SELECT vec_id FROM scored ORDER BY adc_dist, vec_id LIMIT {RERANK_R}
)
SELECT a.vec_id, {_SQL_COS_AB} AS cosine
FROM embeddings a
JOIN coarse USING (vec_id),
     (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
ORDER BY cosine DESC, a.vec_id
LIMIT {TOP_K}
""",
    doc=f"two-stage ANN: PQ-ADC coarse top-{RERANK_R} then exact-cosine "
    f"rerank to top-{TOP_K} — compressed scan first, full precision only "
    "for the candidate slice",
    tags=("pipeline", "similarity", "pq", "rerank"),
)
def ann_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e, scored, q_emb = _pq_adc_scored(spark, sf_dir)
    coarse = (
        scored.orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(RERANK_R)
        .select("vec_id")
    )
    q_arr = F.array(*[F.lit(float(v)) for v in q_emb])
    return (
        e.join(F.broadcast(coarse), "vec_id")
        .select("vec_id", _spark_cosine(F.col("embedding"), q_arr).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(TOP_K)
    )


# --- multi-probe LSH: widen recall without rebuilding the index ----------------------
# Lv et al. 2007 ("Multi-probe LSH"): instead of adding hash tables (more
# index copies) or fewer planes (bigger buckets), probe the query's bucket
# PLUS every bucket within Hamming distance 1 of its signature — the buckets
# a near-neighbor most likely fell into when one hyperplane disagreed. At
# 100 TB this scans N_PLANES+1 bucket partitions (~9/256 of the corpus at 8
# planes) with NO index change — the recall knob that costs probe time, not
# storage. Signatures are the same deterministic LCG hyperplanes, and the
# probe set is a literal IN-list on the xor distance, so both engines select
# identical candidates.

_PROBE_XORS = [0] + [1 << j for j in range(N_PLANES)]


@register(
    "ann_lsh_multiprobe",
    oracle=f"""
WITH sigs AS (
    SELECT vec_id, label, embedding,
           {_sql_signature("embedding")} AS bucket
    FROM embeddings
),
q AS (SELECT embedding, bucket FROM sigs WHERE vec_id = {QUERY_VEC_ID})
SELECT a.vec_id, a.label, {_SQL_COS_AB} AS cosine
FROM sigs a, q
WHERE a.vec_id <> {QUERY_VEC_ID}
  AND xor(a.bucket, q.bucket) IN ({", ".join(str(x) for x in _PROBE_XORS)})
ORDER BY cosine DESC, a.vec_id
LIMIT {TOP_K}
""",
    doc=f"multi-probe LSH ANN: probe the query bucket plus all "
    f"{N_PLANES} Hamming-1 neighbor buckets — recall up, no index rebuild",
    tags=("pipeline", "similarity", "lsh", "multiprobe"),
)
def ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    sigs = e.select(
        "vec_id", "label", "embedding", spark_signature(F.col("embedding")).alias("bucket")
    )
    q = sigs.filter(F.col("vec_id") == QUERY_VEC_ID).limit(1).select(
        F.col("embedding").alias("q_embedding"), F.col("bucket").alias("q_bucket")
    )
    return (
        sigs.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .filter(
            F.col("bucket").bitwiseXOR(F.col("q_bucket")).isin(_PROBE_XORS)
        )
        .select(
            "vec_id",
            "label",
            _spark_cosine(F.col("embedding"), F.col("q_embedding")).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(TOP_K)
    )


@register(
    "ann_lsh_recall_multiprobe",
    oracle=f"""
WITH brute AS (
    SELECT a.vec_id
    FROM embeddings a,
         (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
    WHERE a.vec_id <> {QUERY_VEC_ID}
    ORDER BY {_SQL_COS_AB} DESC, a.vec_id
    LIMIT {TOP_K}
),
sigs AS (
    SELECT vec_id, embedding, {_sql_signature("embedding")} AS bucket
    FROM embeddings
),
mp AS (
    SELECT a.vec_id
    FROM sigs a, (SELECT embedding, bucket FROM sigs
                  WHERE vec_id = {QUERY_VEC_ID}) q
    WHERE a.vec_id <> {QUERY_VEC_ID}
      AND xor(a.bucket, q.bucket) IN ({", ".join(str(x) for x in _PROBE_XORS)})
    ORDER BY {_SQL_COS_AB} DESC, a.vec_id
    LIMIT {TOP_K}
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_hits,
       CAST({TOP_K} AS BIGINT) AS k,
       CAST(COUNT(*) AS DOUBLE) / {TOP_K} AS recall_at_k
FROM brute JOIN mp USING (vec_id)
""",
    doc=f"recall@{TOP_K} of the Hamming-1 multi-probe vs exact brute force "
    "— third point on the measured recall/probe-cost curve (8-plane single "
    "bucket, 12-plane single bucket, 8-plane multi-probe)",
    tags=("pipeline", "similarity", "eval"),
)
def ann_lsh_recall_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    brute = ann_cosine_topk_bruteforce(spark, sf_dir).select("vec_id")
    mp = ann_lsh_multiprobe(spark, sf_dir).select("vec_id")
    hits = brute.join(mp, "vec_id").agg(F.count("*").alias("n"))
    return hits.select(
        F.col("n").cast("long").alias("n_hits"),
        F.lit(TOP_K).cast("long").alias("k"),
        (F.col("n").cast("double") / TOP_K).alias("recall_at_k"),
    )


# --- MIPS via norm augmentation -------------------------------------------------------
# Maximum-inner-product search is NOT cosine search (a long vector can have
# a huge dot product at a poor angle), and LSH families only exist for
# angular/Euclidean metrics — so the standard scale trick is the
# norm-augmentation reduction (Bachrach et al., RecSys'14; Neyshabur &
# Srebro, ICML'15): with M = max corpus norm, augment every corpus vector
# a -> [a ; sqrt(M^2 - |a|^2)] (all augmented vectors then have norm
# exactly M) and the query q -> [q ; 0]. Augmented-space cosine orders
# IDENTICALLY to the raw inner product, so any cosine-ANN index (the
# hyperplane-LSH machinery above) becomes a MIPS index. The query returns
# both rankings' scores; the oracle recomputes the same left-fold float
# arithmetic, so the equivalence is differentially checked, not asserted.
# Shuffle budget: one max-norm aggregate (1 row, broadcast), one map-side
# scoring pass, TakeOrderedAndProject top-k — embarrassingly parallel.

_SQL_DOT_AQ = (
    "list_reduce(list_transform(generate_series(1, len(a.embedding)), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)), (x,y) -> x+y)"
)
_SQL_NORM2_A = (
    "list_reduce(list_transform(generate_series(1, len(a.embedding)), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), (x,y) -> x+y)"
)
_SQL_NORM2_Q = (
    "list_reduce(list_transform(generate_series(1, len(q.embedding)), "
    "i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)), (x,y) -> x+y)"
)


@register(
    "ann_mips_norm_augment",
    oracle=f"""
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
m AS (
    SELECT MAX({_SQL_NORM2_A}) AS max_norm2
    FROM embeddings a WHERE a.vec_id <> {QUERY_VEC_ID}
)
SELECT a.vec_id, a.label,
       {_SQL_DOT_AQ} AS dot_product,
       {_SQL_DOT_AQ}
           / (sqrt(m.max_norm2) * sqrt({_SQL_NORM2_Q})) AS aug_cosine
FROM embeddings a, q, m
WHERE a.vec_id <> {QUERY_VEC_ID}
ORDER BY dot_product DESC, a.vec_id
LIMIT {TOP_K}
""",
    doc="MIPS top-10 via the norm-augmentation reduction: corpus vectors "
    "padded to constant norm M so augmented-space cosine ranks identically "
    "to raw inner product (the trick that turns any cosine-LSH index into "
    "a MIPS index); both scores returned and differentially checked",
    tags=("pipeline", "similarity", "mips"),
)
def ann_mips_norm_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.filter(F.col("vec_id") != QUERY_VEC_ID)
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).limit(1).select(
        F.col("embedding").alias("q_embedding")
    )

    def dot(u, v):
        return F.aggregate(
            F.zip_with(u, v, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, v_: acc + v_,
        )

    # M^2 = max corpus squared norm: one 1-row aggregate, broadcast — the
    # augmented cosine denominator is then the CONSTANT M * |q| (every
    # augmented corpus vector has norm exactly M by construction)
    m = corpus.agg(
        F.max(dot(F.col("embedding"), F.col("embedding"))).alias("max_norm2")
    )
    scored = (
        corpus.crossJoin(F.broadcast(q))
        .crossJoin(F.broadcast(m))
        .select(
            "vec_id",
            "label",
            dot(F.col("embedding"), F.col("q_embedding")).alias("dot_product"),
            (
                dot(F.col("embedding"), F.col("q_embedding"))
                / (
                    F.sqrt(F.col("max_norm2"))
                    * F.sqrt(dot(F.col("q_embedding"), F.col("q_embedding")))
                )
            ).alias("aug_cosine"),
        )
    )
    return scored.orderBy(F.col("dot_product").desc(), "vec_id").limit(TOP_K)


# --- hard-negative mining -------------------------------------------------------------
# The contrastive-training data step: for each anchor vector, the most
# cosine-similar vectors of a DIFFERENT label are the hard negatives
# (highest-loss, most informative). Anchors are a deterministic hash-strided
# sample (vec_id % HARD_NEG_STRIDE == 0 — at 100 TB anchors are whatever
# batch is being mined, typically << corpus). Scoring broadcasts the small
# anchor set over the corpus (map-side, embarrassingly parallel) and the
# per-anchor top-k rank filter compiles to partial+final WindowGroupLimit,
# so each task prunes to its local top-k per anchor before the one
# anchor-keyed exchange. At production scale candidate generation would go
# through the LSH/IVF index first (ann_lsh_materialized above); this is the
# exactness baseline with the same output contract.

HARD_NEG_STRIDE = 100
HARD_NEG_K = 3
# The anchor batch is a WORKLOAD, not a corpus property (same rule as
# BATCH_Q_MAX below): stride-sampling alone gives N/stride anchors, which
# grows with the corpus and would push the broadcast past Spark's 8 GB
# hard cap at the 100 TB framing. The absolute cap keeps the batch fixed;
# 64 anchors needs vec_id < 6400, far above every test SF's max (1999 at
# sf0.1), so results are unchanged where the driver checks.
HARD_NEG_MAX_ANCHORS = 64


@register(
    "ann_hard_negatives",
    oracle=f"""
WITH anchors AS (
    SELECT vec_id, label, embedding FROM embeddings
    WHERE vec_id % {HARD_NEG_STRIDE} = 0
      AND vec_id < {HARD_NEG_STRIDE * HARD_NEG_MAX_ANCHORS}
),
scored AS (
    SELECT q.vec_id AS anchor_id, a.vec_id AS neg_id, a.label AS neg_label,
           {_SQL_COS_AB} AS cosine
    FROM embeddings a, anchors q
    WHERE a.label <> q.label
)
SELECT anchor_id, neg_id, neg_label, cosine, rn
FROM (
    SELECT anchor_id, neg_id, neg_label, cosine,
           ROW_NUMBER() OVER (PARTITION BY anchor_id
                              ORDER BY cosine DESC, neg_id) AS rn
    FROM scored
) t
WHERE rn <= {HARD_NEG_K}
""",
    doc="hard-negative mining for contrastive training: per deterministic "
    "anchor, the top-3 most-similar different-label vectors — broadcast "
    "anchor scoring + WindowGroupLimit per-anchor top-k; the exactness "
    "baseline of the index-backed production path",
    tags=("pipeline", "similarity", "mining"),
)
def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window  # noqa: PLC0415

    e = load_table(spark, sf_dir, "embeddings")
    anchors = (
        e.filter(
            (F.col("vec_id") % HARD_NEG_STRIDE == 0)
            & (F.col("vec_id") < HARD_NEG_STRIDE * HARD_NEG_MAX_ANCHORS)
        )
        .select(
            F.col("vec_id").alias("anchor_id"),
            F.col("label").alias("anchor_label"),
            F.col("embedding").alias("q_embedding"),
        )
        # the predicate already bounds the batch; the limit makes the bound
        # visible to the plan (GlobalLimit), so the broadcast hint is
        # provably legal under quality/plan_lint
        .limit(HARD_NEG_MAX_ANCHORS)
    )
    scored = (
        e.crossJoin(F.broadcast(anchors))
        .filter(F.col("label") != F.col("anchor_label"))
        .select(
            "anchor_id",
            F.col("vec_id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            _spark_cosine(F.col("embedding"), F.col("q_embedding")).alias("cosine"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(F.col("cosine").desc(), "neg_id")
    return scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= HARD_NEG_K
    )


# --- top principal component by power iteration -------------------------------------
# Distributed spectral analysis of the embedding cloud: the dominant
# eigenvector of the (uncentered) second-moment matrix E[x xT] by T
# unrolled power iterations — the direction embeddings concentrate along
# (anisotropy/"rogue dimension" diagnostics; the common-direction removal
# step of post-processing schemes like all-but-the-top).
#
# One iteration = w[i] = SUM_rows dot(x, v) * x[i]; the matrix is NEVER
# materialized (64x64 would be fine, but 4096-dim wouldn't) — each row
# contributes rank-1, and the per-dimension sums are ONE shuffle of
# (dim, scaled-int partial sums) with map-side combine, exactly the
# k-means mean-update shape. Determinism chain, identical to _train_kmeans:
# dot is a left-fold in index order (IEEE-identical both engines),
# per-dim sums go through floor(x*1e6+0.5) DECIMAL (exact, order-free),
# the 64-element normalize runs driver-side in dim order (the oracle's
# list_reduce folds the same order). After T iterations both engines hold
# the SAME vector; loadings are rounded to 9 dp for the compare.

PI_ITERS = 2
_PI_V0 = 0.125  # exact in binary: v0 = [1/8]*DIM


def _sql_dot_list(vec_expr: str, v_list_expr: str) -> str:
    return (
        f"list_reduce(list_transform(generate_series(1, {DIM}), "
        f"i -> CAST({vec_expr}[i] AS DOUBLE) * {v_list_expr}[i]), (x, y) -> x + y)"
    )


def _sql_pi_iter(prev_v: str, out: str) -> str:
    """One power-iteration CTE chain: per-dim scaled-decimal sums of
    dot(x, v_prev) * x[i], then an in-order normalize. The 1-row previous
    vector joins in via the FROM clause (DuckDB forbids subqueries inside
    lambdas)."""
    dot = _sql_dot_list("v.embedding", "pv.vv")
    return f"""
{out}_m AS (
    SELECT CAST(i AS INTEGER) - 1 AS dim,
           CAST(SUM(CAST(floor(({dot}) * CAST(v.embedding[i] AS DOUBLE) * 1e6
                                + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1e6 AS s
    FROM embeddings v, {prev_v} pv, range(1, {DIM + 1}) t(i)
    GROUP BY 1
),
{out}_n AS (
    SELECT list(s ORDER BY dim) AS sv,
           sqrt(list_reduce(list_transform(list(s ORDER BY dim), x -> x * x),
                            (a, b) -> a + b)) AS nrm
    FROM {out}_m
),
{out} AS (SELECT list_transform(sv, x -> x / nrm) AS vv FROM {out}_n)"""


_PI_ORACLE = f"""
WITH v0 AS (
    SELECT list_transform(generate_series(1, {DIM}), i -> {_PI_V0}) AS vv
),{_sql_pi_iter("v0", "p1")},{_sql_pi_iter("p1", "p2")}
SELECT CAST(t.i AS INTEGER) - 1 AS dim, round(p.vv[t.i], 9) AS loading
FROM p{PI_ITERS} p, range(1, {DIM + 1}) t(i)
"""


def _spark_pi_update(e: DataFrame, v: list[float]) -> list[float]:
    vlit = F.array(*[F.lit(float(x)) for x in v])
    dot = F.aggregate(
        F.zip_with(F.col("embedding"), vlit, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, term: acc + term,
    )
    exploded = e.select(dot.alias("dv"), F.posexplode("embedding").alias("dim", "x"))
    scaled = F.floor(
        F.col("dv") * F.col("x").cast("double") * F.lit(1e6) + F.lit(0.5)
    ).cast("decimal(38,0)")
    rows = (
        exploded.groupBy("dim")
        .agg((F.sum(scaled).cast("double") / F.lit(1e6)).alias("s"))
        .collect()  # DIM rows — the tiny model, same as _spark_update
    )
    s = [0.0] * DIM
    for r in rows:
        s[r["dim"]] = r["s"]
    nrm = 0.0
    for x in s:  # left fold in dim order, matching the oracle's list_reduce
        nrm += x * x
    nrm = nrm**0.5
    return [x / nrm for x in s]


# Both spectral queries train the SAME top-PC vector (the deflation op
# projects it out of every iterate), so the trained model — a DIM-sized
# Python list, driver-side only, no executor storage — is shared through a
# single-entry cache keyed by (session, input), the same discipline as
# text.char_trigram_frame. Whichever spectral query runs first pays the
# PI_ITERS corpus scans; the other reuses the vector for free.
@cached_per_input("embeddings")
def top_pc_vector(
    spark: SparkSession, sf_dir: str, e: DataFrame | None = None
) -> list[float]:
    """Trained top-PC direction, cached per (session, sf_dir).

    Pass a pre-persisted embeddings frame ``e`` to reuse its storage for
    the training scans; otherwise the helper persists (and materializes,
    per the self-join/iteration discipline) its own frame for the
    iterations and unpersists it before returning.
    """
    own = e is None
    if own:
        e = load_table(spark, sf_dir, "embeddings").persist()
        e.count()  # materialize: scanned PI_ITERS times
    v = [_PI_V0] * DIM
    for _ in range(PI_ITERS):
        v = _spark_pi_update(e, v)
    if own:
        e.unpersist()
    return v


@register(
    "embedding_top_pc_power_iter",
    oracle=_PI_ORACLE,
    doc=f"top principal direction of the embedding cloud: {PI_ITERS} power "
    "iterations over the uncentered second moment, matrix-free (one "
    "(dim, scaled-int) shuffle per iteration, model to driver like "
    "k-means); oracle unrolls the identical iterations in SQL; trained "
    "vector shared with the deflation op via the (session, input) cache",
    tags=("pipeline", "similarity", "spectral"),
)
def embedding_top_pc_power_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = top_pc_vector(spark, sf_dir)
    rows = [(i, round(x, 9)) for i, x in enumerate(v)]
    return spark.createDataFrame(rows, "dim int, loading double")


# --- per-dimension moment diagnostics -----------------------------------------------
# Embedding-health monitoring: mean / variance / range per dimension —
# collapsed dimensions (zero variance) and scale outliers are the standard
# symptoms of a broken encoder or a bad normalization deploy. One
# posexplode + one (dim)-keyed aggregate with decimal-exact moments; at
# 100 TB the shuffle carries DIM partial-sum rows per map task, nothing
# row-scale.


@register(
    "embedding_dim_moments",
    oracle=f"""
SELECT CAST(i AS INTEGER) - 1 AS dim,
       COUNT(*) AS n,
       round(CAST(SUM(CAST(floor(CAST(v.embedding[i] AS DOUBLE) * 1e9 + 0.5)
                           AS DECIMAL(38,0))) AS DOUBLE) / (COUNT(*) * 1e9), 9)
           AS mean_v,
       round((CAST(SUM(CAST(floor(CAST(v.embedding[i] AS DOUBLE)
                                  * CAST(v.embedding[i] AS DOUBLE) * 1e9 + 0.5)
                            AS DECIMAL(38,0))) AS DOUBLE) / (COUNT(*) * 1e9))
             - (CAST(SUM(CAST(floor(CAST(v.embedding[i] AS DOUBLE) * 1e9 + 0.5)
                              AS DECIMAL(38,0))) AS DOUBLE) / (COUNT(*) * 1e9))
               * (CAST(SUM(CAST(floor(CAST(v.embedding[i] AS DOUBLE) * 1e9 + 0.5)
                                AS DECIMAL(38,0))) AS DOUBLE) / (COUNT(*) * 1e9)),
             9) AS var_v,
       MIN(CAST(v.embedding[i] AS DOUBLE)) AS min_v,
       MAX(CAST(v.embedding[i] AS DOUBLE)) AS max_v
FROM embeddings v, range(1, {DIM + 1}) t(i)
GROUP BY 1
""",
    doc="per-dimension embedding moments (mean/var via decimal-exact sums, "
    "min/max): collapsed-dimension + scale-outlier diagnostics; one "
    "posexplode + one dim-keyed aggregate",
    tags=("pipeline", "similarity", "diagnostics"),
)
def embedding_dim_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    x = F.col("x").cast("double")
    s1 = F.sum(F.floor(x * F.lit(1e9) + F.lit(0.5)).cast("decimal(38,0)"))
    s2 = F.sum(F.floor(x * x * F.lit(1e9) + F.lit(0.5)).cast("decimal(38,0)"))
    exploded = e.select(F.posexplode("embedding").alias("dim", "x"))
    mean_v = s1.cast("double") / (F.count("*") * F.lit(1e9))
    m2 = s2.cast("double") / (F.count("*") * F.lit(1e9))
    return exploded.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.round(mean_v, 9).alias("mean_v"),
        F.round(m2 - mean_v * mean_v, 9).alias("var_v"),
        F.min(x).alias("min_v"),
        F.max(x).alias("max_v"),
    )


# --- embedding drift: centroid shift between corpus halves --------------------------
# ML-ops drift detection: per label, the L2 distance between the class
# centroid computed on one half of the corpus (vec_id % 2 = 0 — stand-in
# for "last week's snapshot") and the other half. A retrained/broken
# encoder shows up as a large shift concentrated in some labels long
# before downstream metrics move. Per-(label, half) means use the exact
# floor-scaled decimal element-wise mean (the k-means update discipline),
# so both engines hold identical centroids; the final L2 folds squared
# diffs in dim order (identical IEEE ops). One (label, half, dim) shuffle
# with map-side combine — DIM partial rows per task, nothing row-scale.


@register(
    "embedding_drift_centroid_shift",
    oracle=f"""
WITH m AS (
    SELECT label, v.vec_id % 2 AS half, CAST(i AS INTEGER) - 1 AS dim,
           CAST(SUM(CAST(floor(CAST(v.embedding[i] AS DOUBLE) * 1e9 + 0.5)
                         AS DECIMAL(38,0))) AS DOUBLE) / (COUNT(*) * 1e9) AS mu
    FROM embeddings v, range(1, {DIM + 1}) t(i)
    GROUP BY 1, 2, 3
),
paired AS (
    SELECT a.label, a.dim, a.mu AS mu0, b.mu AS mu1
    FROM m a JOIN m b ON a.label = b.label AND a.dim = b.dim
    WHERE a.half = 0 AND b.half = 1
)
SELECT label,
       round(sqrt(list_reduce(list_transform(list((mu1 - mu0) * (mu1 - mu0)
                                                  ORDER BY dim), x -> x),
                              (x, y) -> x + y)), 9) AS centroid_shift
FROM paired
GROUP BY label
""",
    doc="per-label centroid L2 shift between corpus halves (vec_id parity "
    "as the snapshot split) — embedding drift monitoring; exact decimal "
    "means (k-means discipline), dim-ordered fold for the distance",
    tags=("pipeline", "similarity", "drift"),
)
def embedding_drift_centroid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    exploded = e.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("dim", "x"),
    )
    scaled = F.floor(F.col("x").cast("double") * F.lit(1e9) + F.lit(0.5)).cast(
        "decimal(38,0)"
    )
    m = exploded.groupBy("label", "half", "dim").agg(
        (F.sum(scaled).cast("double") / (F.count("*") * F.lit(1e9))).alias("mu")
    )
    m = m.persist()
    m.count()
    a = m.filter(F.col("half") == 0).select(
        "label", "dim", F.col("mu").alias("mu0")
    )
    b = m.filter(F.col("half") == 1).select(
        "label", "dim", F.col("mu").alias("mu1")
    )
    d2 = (F.col("mu1") - F.col("mu0")) * (F.col("mu1") - F.col("mu0"))
    # fold squared diffs in dim order: collect per-label dim-sorted array,
    # then an in-order aggregate — matches the oracle's ordered list_reduce
    paired = (
        a.join(b, ["label", "dim"])
        .select("label", "dim", d2.alias("d2"))
        .groupBy("label")
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "d2"))),
                    lambda s: s["d2"],
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("ss")
        )
    )
    out = paired.select(
        "label", F.round(F.sqrt("ss"), 9).alias("centroid_shift")
    )
    out = out.persist()
    out.count()
    m.unpersist()
    return out


# --- IVF-PQ composed retrieval ------------------------------------------------------
# The production ANN shape at 100 TB: a coarse IVF stage prunes the corpus
# to one cell, then PQ asymmetric-distance scoring ranks ONLY that cell —
# compression (PQ codes) and pruning (IVF) composed, exactly how
# FAISS-style IndexIVFPQ serves billion-vector search. Here the coarse
# cells are the label partitions (as in ann_ivf_centroid_probe), the cell
# pick is mean-dot affinity, and the ADC lookup tables are trained literals
# (codebooks from one Lloyd iteration, differentially checked end-to-end).
# Plan shape: one aggregation for affinity, broadcast 1-row cell filter,
# map-only ADC scoring of the cell, TakeOrdered top-k. Nothing quadratic,
# nothing global.


@register(
    "ann_ivf_pq",
    oracle=_PQ_ADC_SCORED_SQL
    + f""",
aff AS (
    SELECT a.label,
           CAST(SUM(CAST({_SQL_DOT_QA} AS DECIMAL(27,9))) AS DOUBLE) / COUNT(*)
               AS cell_score
    FROM embeddings a, (SELECT embedding FROM embeddings
                        WHERE vec_id = {QUERY_VEC_ID}) q
    WHERE a.vec_id <> {QUERY_VEC_ID}
    GROUP BY a.label
),
best_cell AS (SELECT label FROM aff ORDER BY cell_score DESC, label LIMIT 1)
SELECT s.vec_id, e.label, s.adc_dist
FROM scored s
JOIN embeddings e ON e.vec_id = s.vec_id
WHERE e.label IN (SELECT label FROM best_cell)
ORDER BY s.adc_dist, s.vec_id
LIMIT {TOP_K}
""",
    doc=f"IVF-PQ composed retrieval: coarse cell pick by mean-dot affinity, "
    f"then PQ ADC top-{TOP_K} scored over the probed cell only — the "
    "FAISS IndexIVFPQ shape (prune, then compressed-score) with map-only "
    "scoring and TakeOrderedAndProject",
    tags=("pipeline", "similarity", "ivf", "pq"),
)
def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    full = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    q = full.filter(F.col("vec_id") == QUERY_VEC_ID).limit(1).select(
        F.col("embedding").alias("q_embedding")
    )
    candidates = full.filter(F.col("vec_id") != QUERY_VEC_ID).crossJoin(
        F.broadcast(q)
    )

    def dot(u, v):
        return F.aggregate(
            F.zip_with(u, v, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, v_: acc + v_,
        )

    affinity = (
        candidates.select(
            "label", dot(F.col("embedding"), F.col("q_embedding")).alias("d")
        )
        .groupBy("label")
        .agg(
            (
                F.sum(F.col("d").cast("decimal(27,9)")).cast("double")
                / F.count("*")
            ).alias("cell_score")
        )
    )
    best_cell = (
        affinity.orderBy(F.col("cell_score").desc(), "label")
        .limit(1)
        .select("label")
    )
    _, adc, _ = _pq_adc_expr(spark, sf_dir)
    cell = full.filter(F.col("vec_id") != QUERY_VEC_ID).join(
        F.broadcast(best_cell), "label"
    )
    return (
        cell.select("vec_id", "label", adc.alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(TOP_K)
    )


# --- embedding outlier scoring (diagonal Mahalanobis) -------------------------------
# Embedding-space outlier detection for data curation: per-dimension
# standardized squared distance summed over dims (Mahalanobis with a
# diagonal covariance). Per-dim means/variances use the floor-scaled
# decimal discipline (exact, order-independent — same as
# embedding_dim_moments); the per-vector sum of z^2 terms is
# decimal-accumulated so the shuffle order can't change the value. Stats
# are DIM rows (broadcast); scoring is one posexplode + one vec_id-keyed
# aggregation — linear, no joins between big sides.

MAHA_TOP = 20


@register(
    "embedding_mahalanobis_outliers",
    oracle=f"""
WITH dims AS (
  SELECT v.vec_id, CAST(i AS INTEGER) - 1 AS dim,
         CAST(v.embedding[i] AS DOUBLE) AS x
  FROM embeddings v, range(1, {DIM + 1}) t(i)
),
st AS (
  SELECT dim, COUNT(*) AS n,
         SUM(CAST(floor(x * 1e9 + 0.5) AS DECIMAL(38,0))) AS s1,
         SUM(CAST(floor(x * x * 1e9 + 0.5) AS DECIMAL(38,0))) AS s2
  FROM dims GROUP BY 1
),
mv AS (
  SELECT dim,
         CAST(s1 AS DOUBLE) / (n * 1e9) AS mu,
         CAST(s2 AS DOUBLE) / (n * 1e9)
           - (CAST(s1 AS DOUBLE) / (n * 1e9)) * (CAST(s1 AS DOUBLE) / (n * 1e9))
             AS var
  FROM st
)
SELECT d.vec_id,
       round(CAST(SUM(CAST(((d.x - mu) * (d.x - mu)) / var AS DECIMAL(27,9)))
                  AS DOUBLE), 9) AS maha_sq
FROM dims d JOIN mv USING (dim)
GROUP BY 1
ORDER BY maha_sq DESC, d.vec_id
LIMIT {MAHA_TOP}
""",
    doc=f"top-{MAHA_TOP} embedding outliers by diagonal-covariance "
    "Mahalanobis distance: decimal-exact per-dim stats (DIM broadcast "
    "rows), decimal-accumulated per-vector z^2 sum, TakeOrdered top-k — "
    "the embedding-quality prune step of a curation pipeline",
    tags=("pipeline", "similarity", "diagnostics"),
)
def embedding_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    dims = e.select(
        "vec_id", F.posexplode("embedding").alias("dim", "xf")
    ).select("vec_id", "dim", F.col("xf").cast("double").alias("x"))
    x = F.col("x")
    st = dims.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum(F.floor(x * F.lit(1e9) + F.lit(0.5)).cast("decimal(38,0)")).alias(
            "s1"
        ),
        F.sum(
            F.floor(x * x * F.lit(1e9) + F.lit(0.5)).cast("decimal(38,0)")
        ).alias("s2"),
    )
    mu = F.col("s1").cast("double") / (F.col("n") * F.lit(1e9))
    mv = st.select(
        "dim",
        mu.alias("mu"),
        (F.col("s2").cast("double") / (F.col("n") * F.lit(1e9)) - mu * mu).alias(
            "var"
        ),
    )
    z2 = ((x - F.col("mu")) * (x - F.col("mu"))) / F.col("var")
    return (
        dims.join(F.broadcast(mv), "dim")
        .groupBy("vec_id")
        .agg(
            F.round(
                F.sum(z2.cast("decimal(27,9)")).cast("double"), 9
            ).alias("maha_sq")
        )
        .orderBy(F.col("maha_sq").desc(), F.col("vec_id").asc())
        .limit(MAHA_TOP)
    )


# --- greedy k-center diversity selection --------------------------------------------
# Farthest-point sampling over embeddings: the classic 2-approximation to
# the k-center objective, used in data curation to pick a maximally
# DIVERSE training subset (coreset seeding, SemDeDup's dual). Greedy loop:
# start from vec_id 0, repeatedly add the point with the largest
# min-distance to the chosen set (vec_id tiebreak => total order). Each
# round is one map-only least()-fold over literal chosen vectors plus one
# TakeOrdered(1) — K scans, nothing quadratic; the chosen set (K rows) is
# the only driver-side state, exactly like the k-means model loop. The
# oracle unrolls the same K rounds as chained CTEs with the identical
# left-fold L2, so distances are bit-equal.

KCENTER_K = 4


def _kcenter_oracle() -> str:
    parts = [
        f"""WITH c0 AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
  FROM embeddings WHERE vec_id = 0
),
s1 AS (
  SELECT e.vec_id, {_sql_l2("e.embedding", "c.cvec")} AS d
  FROM embeddings e, c0 c WHERE e.vec_id <> 0
),
p1 AS (SELECT vec_id, d FROM s1 ORDER BY d DESC, vec_id LIMIT 1)"""
    ]
    for k in range(2, KCENTER_K):
        prev_s, prev_p = f"s{k - 1}", f"p{k - 1}"
        parts.append(
            f""",
c{k - 1} AS (
  SELECT list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS cvec
  FROM embeddings e JOIN {prev_p} p ON e.vec_id = p.vec_id
),
s{k} AS (
  SELECT s.vec_id, least(s.d, {_sql_l2("e.embedding", "c.cvec")}) AS d
  FROM {prev_s} s JOIN embeddings e USING (vec_id), c{k - 1} c
  WHERE s.vec_id NOT IN (SELECT vec_id FROM {prev_p})
),
p{k} AS (SELECT vec_id, d FROM s{k} ORDER BY d DESC, vec_id LIMIT 1)"""
        )
    finals = [
        "SELECT 0 AS pick_order, CAST(0 AS BIGINT) AS vec_id, 0.0 AS min_dist"
    ] + [
        f"SELECT {k}, vec_id, d FROM p{k}" for k in range(1, KCENTER_K)
    ]
    return "".join(parts) + "\n" + "\nUNION ALL ".join(finals)


@register(
    "curation_kcenter_diversity",
    oracle=_kcenter_oracle(),
    doc=f"greedy k-center (farthest-point) diversity selection, K={KCENTER_K}: "
    "per round one map-only least()-fold over broadcast-literal chosen "
    "vectors + TakeOrdered(1); the coreset/diversity dual of semantic dedup",
    tags=("pipeline", "similarity", "curation"),
)
def curation_kcenter_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    e = e.persist()
    e.count()  # scanned once per greedy round
    seed = e.filter(F.col("vec_id") == 0).collect()[0]
    chosen_emb = [float(x) for x in seed["embedding"]]
    picks = []  # (pick_order, frame-of-one-row)
    df = e.filter(F.col("vec_id") != 0).select(
        "vec_id",
        "embedding",
        _spark_l2_lit(F.col("embedding"), chosen_emb).alias("d"),
    )
    for k in range(1, KCENTER_K):
        top = df.orderBy(F.col("d").desc(), F.col("vec_id").asc()).limit(1)
        picks.append(
            top.select(
                F.lit(k).alias("pick_order"),
                "vec_id",
                F.col("d").alias("min_dist"),
            )
        )
        row = top.collect()[0]  # 1-row model state for the next round
        if k == KCENTER_K - 1:
            break
        new_emb = [
            float(x)
            for x in e.filter(F.col("vec_id") == row["vec_id"]).collect()[0][
                "embedding"
            ]
        ]
        df = df.filter(F.col("vec_id") != row["vec_id"]).select(
            "vec_id",
            "embedding",
            F.least(
                F.col("d"), _spark_l2_lit(F.col("embedding"), new_emb)
            ).alias("d"),
        )
    # seed row built as a 1-row union head (literal projection of the seed)
    head = (
        e.filter(F.col("vec_id") == 0)
        .select(
            F.lit(0).alias("pick_order"),
            "vec_id",
            F.lit(0.0).alias("min_dist"),
        )
    )
    out = head
    for p in picks:
        out = out.unionByName(p)
    out = out.persist()
    out.count()
    e.unpersist()
    return out


# --- PQ distortion audit ------------------------------------------------------------
# Index-quality monitoring for the PQ chain: per-subspace mean quantization
# distortion (L2 between each sub-vector and its assigned codeword). A
# drifting corpus shows up here as rising distortion long before recall
# drops — the retrain trigger. Per-row distortions are already computed by
# the assignment argmin; the audit is one decimal-quantized aggregate per
# subspace (4 scans of the codes path, each map-only + 1-row aggregate).


@register(
    "ann_pq_distortion_audit",
    oracle="WITH "
    + ",".join(_sql_pq_subspace(m).lstrip() for m in range(PQ_M))
    + "\n"
    + "\nUNION ALL ".join(
        f"""SELECT {m} AS subspace, COUNT(*) AS n,
       round(CAST(SUM(CAST(d AS DECIMAL(27,9))) AS DOUBLE) / COUNT(*), 9)
           AS avg_distortion
FROM a2_{m}"""
        for m in range(PQ_M)
    ),
    doc="per-subspace mean PQ quantization distortion (decimal-quantized "
    "L2 to the assigned codeword): the compressed-index health metric "
    "that triggers retraining — map-only scoring, 1-row aggregate per "
    "subspace",
    tags=("pipeline", "similarity", "pq", "diagnostics"),
)
def ann_pq_distortion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    trained_list, _ = _pq_trained_models(spark, sf_dir, e)  # shared cache
    out = None
    for m in range(PQ_M):
        d = _pq_best(trained_list[m], m)["d"]
        row = e.select(d.alias("d")).agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("d").cast("decimal(27,9)")).cast("double")
                / F.count("*"),
                9,
            ).alias("avg_distortion"),
        ).select(F.lit(m).alias("subspace"), "n", "avg_distortion")
        out = row if out is None else out.unionByName(row)
    return out


# --- second principal component (deflated power iteration) --------------------------
# Projected power iteration on top of embedding_top_pc_power_iter:
# w <- normalize(P s) with s = M w and P = I - v1 v1^T — each round is the
# SAME map-only coefficient + (dim, scaled-int) shuffle as the top-PC op,
# followed by a model-sized driver-side projection against the learned v1
# (so the result is orthogonal to v1 BY CONSTRUCTION, independent of how
# converged v1 is). The oracle chains the exact same folds: v1 is the
# unrolled p2 chain, then two projected iterations d1, d2.


def _sql_pi_iter_deflated(prev_w: str, v1: str, out: str) -> str:
    dot = _sql_dot_list("v.embedding", "pw.vv")
    dot_v1s = (
        f"list_reduce(list_transform(generate_series(1, {DIM}), "
        f"i -> pv1.vv[i] * cc.sv[i]), (x, y) -> x + y)"
    )
    return f"""
{out}_m AS (
    SELECT CAST(i AS INTEGER) - 1 AS dim,
           CAST(SUM(CAST(floor(({dot}) * CAST(v.embedding[i] AS DOUBLE) * 1e6
                                + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1e6 AS s
    FROM embeddings v, {prev_w} pw, range(1, {DIM + 1}) t(i)
    GROUP BY 1
),
{out}_sv AS (SELECT list(s ORDER BY dim) AS sv FROM {out}_m),
{out}_d AS (SELECT {dot_v1s} AS c FROM {out}_sv cc, {v1} pv1),
{out}_p AS (
    SELECT list_transform(generate_series(1, {DIM}),
                          i -> cc.sv[i] - dd.c * pv1.vv[i]) AS pv
    FROM {out}_sv cc, {out}_d dd, {v1} pv1
),
{out}_n AS (
    SELECT pv,
           sqrt(list_reduce(list_transform(pv, x -> x * x), (a, b) -> a + b))
               AS nrm
    FROM {out}_p
),
{out} AS (SELECT list_transform(pv, x -> x / nrm) AS vv FROM {out}_n)"""


_PI2_ORACLE = f"""
WITH v0 AS (
    SELECT list_transform(generate_series(1, {DIM}), i -> {_PI_V0}) AS vv
),{_sql_pi_iter("v0", "p1")},{_sql_pi_iter("p1", "p2")},
{_sql_pi_iter_deflated("v0", "p2", "d1").lstrip()},
{_sql_pi_iter_deflated("d1", "p2", "d2").lstrip()}
SELECT CAST(t.i AS INTEGER) - 1 AS dim, round(d.vv[t.i], 9) AS loading2
FROM d2 d, range(1, {DIM + 1}) t(i)
"""


def _spark_pi_update_deflated(
    e: DataFrame, w: list[float], v1: list[float]
) -> list[float]:
    wlit = F.array(*[F.lit(float(x)) for x in w])
    dot = F.aggregate(
        F.zip_with(F.col("embedding"), wlit, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, term: acc + term,
    )
    exploded = e.select(dot.alias("dv"), F.posexplode("embedding").alias("dim", "x"))
    scaled = F.floor(
        F.col("dv") * F.col("x").cast("double") * F.lit(1e6) + F.lit(0.5)
    ).cast("decimal(38,0)")
    rows = (
        exploded.groupBy("dim")
        .agg((F.sum(scaled).cast("double") / F.lit(1e6)).alias("s"))
        .collect()
    )
    s = [0.0] * DIM
    for r in rows:
        s[r["dim"]] = r["s"]
    c = 0.0
    for a, b in zip(v1, s):  # left fold in dim order, matching list_reduce
        c += a * b
    p = [s[i] - c * v1[i] for i in range(DIM)]
    nrm = 0.0
    for x in p:
        nrm += x * x
    nrm = nrm**0.5
    return [x / nrm for x in p]


@register(
    "embedding_top2_pc_deflation",
    oracle=_PI2_ORACLE,
    doc=f"second principal direction via projected (deflated) power "
    f"iteration: the learned top PC projected out of each iterate — per "
    "round one map-only coefficient + one (dim, scaled-int) shuffle, "
    "model-sized driver projection; oracle unrolls the identical folds",
    tags=("pipeline", "similarity", "spectral"),
)
def embedding_top2_pc_deflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    e = e.persist()
    e.count()  # scanned by up to 4 iteration rounds (2 on a v1 cache hit)
    v = top_pc_vector(spark, sf_dir, e)  # shared trained model (cache)
    w = [_PI_V0] * DIM
    for _ in range(PI_ITERS):
        w = _spark_pi_update_deflated(e, w, v)
    e.unpersist()
    rows = [(i, round(x, 9)) for i, x in enumerate(w)]
    return spark.createDataFrame(rows, "dim int, loading2 double")


# --- IVF nprobe sweep (measured recall curve) ---------------------------------------
# The IVF recall knob quantified: probe the top-1 / top-2 / top-4 cells by
# mean-dot affinity and measure recall@K of each against the exact
# brute-force top-K. One affinity aggregate and one scored frame are
# shared; each sweep point is a cell-subset filter + TakeOrdered, and the
# recall join is K-row sized. The sweep is the measured basis for choosing
# nprobe at scale (recall rises with probes, scanned fraction ~nprobe/cells).

NPROBE_SWEEP = (1, 2, 4)


def _nprobe_oracle() -> str:
    head = f"""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
scored AS (
    SELECT a.vec_id, a.label, {_SQL_COS_AB} AS cosine
    FROM embeddings a, q
    WHERE a.vec_id <> {QUERY_VEC_ID}
),
exact_k AS (
    SELECT vec_id FROM scored ORDER BY cosine DESC, vec_id LIMIT {TOP_K}
),
aff AS (
    SELECT label,
           CAST(SUM(CAST(cosine AS DECIMAL(27,9))) AS DOUBLE) / COUNT(*)
               AS cell_score
    FROM scored GROUP BY 1
),
ranked_cells AS (
    SELECT label, ROW_NUMBER() OVER (ORDER BY cell_score DESC, label) AS rk
    FROM aff
)"""
    parts = [head]
    for np_ in NPROBE_SWEEP:
        parts.append(
            f""",
cand_{np_} AS (
    SELECT s.vec_id, s.cosine FROM scored s
    JOIN ranked_cells rc ON rc.label = s.label AND rc.rk <= {np_}
),
top_{np_} AS (
    SELECT vec_id FROM cand_{np_} ORDER BY cosine DESC, vec_id LIMIT {TOP_K}
),
rec_{np_} AS (
    SELECT {np_} AS nprobe,
           (SELECT COUNT(*) FROM cand_{np_}) AS n_scanned,
           (SELECT COUNT(*) FROM top_{np_} t JOIN exact_k e USING (vec_id))
               AS n_hit
)"""
        )
    union = "\nUNION ALL ".join(f"SELECT * FROM rec_{n}" for n in NPROBE_SWEEP)
    return (
        "".join(parts)
        + f"""
SELECT nprobe, n_scanned, n_hit,
       CAST(n_hit AS DOUBLE) / {TOP_K} AS recall_at_{TOP_K}
FROM ({union})
"""
    )


@register(
    "ann_ivf_nprobe_sweep",
    oracle=_nprobe_oracle(),
    doc=f"IVF nprobe sweep: recall@{TOP_K} and scanned-candidate count at "
    "nprobe = 1/2/4 cells vs the exact top-K — ONE shared affinity pass "
    "and scored frame, K-row recall joins; the measured basis for the "
    "probe-count knob",
    tags=("pipeline", "similarity", "ivf", "diagnostics"),
)
def ann_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).limit(1).select(
        F.col("embedding").alias("q_embedding")
    )
    scored = (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            _spark_cosine(F.col("embedding"), F.col("q_embedding")).alias(
                "cosine"
            ),
        )
    )
    scored = scored.persist()
    scored.count()  # shared by exact-k, affinity, and 3 sweep points
    exact_k = (
        scored.orderBy(F.col("cosine").desc(), "vec_id")
        .limit(TOP_K)
        .select("vec_id")
    )
    exact_k = exact_k.persist()
    exact_k.count()
    aff = scored.groupBy("label").agg(
        (
            F.sum(F.col("cosine").cast("decimal(27,9)")).cast("double")
            / F.count("*")
        ).alias("cell_score")
    )
    rkw = Window.orderBy(F.col("cell_score").desc(), F.col("label").asc())
    ranked = aff.select("label", F.row_number().over(rkw).alias("rk"))
    ranked = ranked.persist()
    ranked.count()  # |cells| rows; the single-partition window is model-sized
    out = None
    for np_ in NPROBE_SWEEP:
        cells = ranked.filter(F.col("rk") <= np_).select("label")
        cand = scored.join(F.broadcast(cells), "label")
        top = (
            cand.orderBy(F.col("cosine").desc(), "vec_id")
            .limit(TOP_K)
            .select("vec_id")
        )
        row = (
            cand.agg(F.count("*").alias("n_scanned"))
            .crossJoin(
                top.join(exact_k, "vec_id").agg(F.count("*").alias("n_hit"))
            )
            .select(
                F.lit(np_).alias("nprobe"),
                "n_scanned",
                "n_hit",
                (F.col("n_hit").cast("double") / F.lit(TOP_K)).alias(
                    f"recall_at_{TOP_K}"
                ),
            )
        )
        out = row if out is None else out.unionByName(row)
    out = out.persist()
    out.count()
    scored.unpersist()
    exact_k.unpersist()
    ranked.unpersist()
    return out


# --- IVF-PQ end-to-end recall -------------------------------------------------------
# The composed index measured: recall@K of the full IVF-PQ chain (cell
# prune + ADC ranking) against the exact L2 top-K over the whole corpus.
# This is the number that justifies (or rejects) shipping the compressed
# index — cell pruning and PQ quantization each lose recall; this measures
# their PRODUCT. K-row joins only; shares the trained chain with
# ann_ivf_pq.


@register(
    "ann_ivfpq_recall",
    oracle=_PQ_ADC_SCORED_SQL
    + f""",
aff AS (
    SELECT a.label,
           CAST(SUM(CAST({_SQL_DOT_QA} AS DECIMAL(27,9))) AS DOUBLE) / COUNT(*)
               AS cell_score
    FROM embeddings a, (SELECT embedding FROM embeddings
                        WHERE vec_id = {QUERY_VEC_ID}) q
    WHERE a.vec_id <> {QUERY_VEC_ID}
    GROUP BY a.label
),
best_cell AS (SELECT label FROM aff ORDER BY cell_score DESC, label LIMIT 1),
ivfpq_k AS (
    SELECT s.vec_id
    FROM scored s JOIN embeddings e ON e.vec_id = s.vec_id
    WHERE e.label IN (SELECT label FROM best_cell)
    ORDER BY s.adc_dist, s.vec_id
    LIMIT {TOP_K}
),
exact_k AS (
    SELECT a.vec_id
    FROM embeddings a, (SELECT embedding FROM embeddings
                        WHERE vec_id = {QUERY_VEC_ID}) q
    WHERE a.vec_id <> {QUERY_VEC_ID}
    ORDER BY {_sql_l2("a.embedding",
                      "list_transform(q.embedding, x -> CAST(x AS DOUBLE))")},
             a.vec_id
    LIMIT {TOP_K}
)
SELECT (SELECT COUNT(*) FROM ivfpq_k i JOIN exact_k e USING (vec_id))
           AS n_hit,
       CAST((SELECT COUNT(*) FROM ivfpq_k i JOIN exact_k e USING (vec_id))
            AS DOUBLE) / {TOP_K} AS recall_at_{TOP_K}
""",
    doc=f"end-to-end IVF-PQ recall@{TOP_K} vs exact L2 top-{TOP_K}: the "
    "product of cell-prune and quantization losses, measured — the "
    "ship/retrain gate for the compressed index; K-row joins only",
    tags=("pipeline", "similarity", "ivf", "pq", "diagnostics"),
)
def ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    ivfpq_k = (
        REGISTRY["ann_ivf_pq"].fn(spark, sf_dir).select("vec_id")
    )
    e = load_table(spark, sf_dir, "embeddings")
    q_emb = [
        float(x)
        for x in e.filter(F.col("vec_id") == QUERY_VEC_ID).collect()[0][
            "embedding"
        ]
    ]
    exact_k = (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select(
            "vec_id", _spark_l2_lit(F.col("embedding"), q_emb).alias("d")
        )
        .orderBy(F.col("d").asc(), F.col("vec_id").asc())
        .limit(TOP_K)
        .select("vec_id")
    )
    hit = ivfpq_k.join(exact_k, "vec_id").agg(F.count("*").alias("n_hit"))
    return hit.select(
        "n_hit",
        (F.col("n_hit").cast("double") / F.lit(TOP_K)).alias(
            f"recall_at_{TOP_K}"
        ),
    )


# --- embedding-space health: pairwise-similarity histogram ----------------------------
# Pre-training diagnostic over the embedding space itself: the
# distribution of pairwise cosine similarity (all-same ⇒ collapsed
# embeddings; all-orthogonal ⇒ no near-dup signal for semantic dedup;
# a heavy right tail ⇒ duplicate clusters). All-pairs over the corpus is
# N² and never runs at scale — the estimator is all-pairs over a
# HASH-SAMPLED subset: vec_id is kept when its salted 48-bit hash ≡ 0
# by salted-hash RANK: the SIMHIST_SAMPLE vectors with the smallest
# md5-derived hash values (vec_id tiebreak) form the sample — a
# deterministic, uniform-pseudorandom subset of EXACTLY min(N, SAMPLE)
# rows at every corpus size. Unlike hash-mod sampling at a fixed rate
# (the first cut: ``hash % 4 == 0`` — a sample that grows as N/4 and a
# pair count that grows as N²/32, dead at 100 TB), the rank sample is a
# workload constant: the selection is one distributed TakeOrdered, the
# pair count is a fixed SAMPLE²/2, and the GlobalLimit makes the
# broadcast bound plan-provable (quality/plan_lint). The sampled frame is
# persisted + materialized before the self-join per the derived-frame
# convention.

SIMHIST_SAMPLE = 128


@register(
    "embedding_pairwise_sim_hist",
    oracle=f"""
WITH s AS (
    SELECT vec_id, embedding FROM embeddings
    ORDER BY {sql_salted_hash("vec_id", ":simhist")}, vec_id
    LIMIT {SIMHIST_SAMPLE}
)
SELECT CAST(floor(({_SQL_COS_AB.replace("q.embedding", "b.embedding")}) * 10)
            AS BIGINT) AS sim_bin,
       COUNT(*) AS n_pairs
FROM s a JOIN s b ON a.vec_id < b.vec_id
GROUP BY 1
""",
    doc="pairwise cosine-similarity histogram over a deterministic "
    "hash-sampled subset of the embedding space (collapse / duplicate-"
    "cluster diagnostic); pair count bounded by (N/mod)^2/2, never "
    "corpus-quadratic",
    tags=("pipeline", "similarity"),
)
def embedding_pairwise_sim_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    s = (
        e.select(
            "vec_id",
            "embedding",
            spark_salted_hash("vec_id", ":simhist").alias("_hk"),
        )
        .orderBy("_hk", "vec_id")
        .limit(SIMHIST_SAMPLE)
        .drop("_hk")
    )
    s = s.persist()
    s.count()  # materialize before the self-join (derived-frame convention)
    a = s.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_emb"))
    b = s.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_emb"))
    sim = _spark_cosine(F.col("a_emb"), F.col("b_emb"))
    out = (
        a.join(F.broadcast(b), F.col("a_id") < F.col("b_id"))
        .select(F.floor(sim * 10).cast("long").alias("sim_bin"))
        .groupBy("sim_bin")
        .agg(F.count("*").alias("n_pairs"))
    )
    out = out.persist()
    out.count()
    s.unpersist()
    return out


# --- batch multi-query retrieval (one corpus pass) -----------------------------------
# The production inference shape the single-query ops don't exercise:
# serving Q queries by scanning the corpus ONCE with the whole query
# batch broadcast, instead of Q separate passes. Each corpus partition
# scores its vectors against every broadcast query (a map-side nested
# loop over the Q-row build side — exactly what BroadcastNestedLoopJoin
# does), then per-query top-k falls out of one WindowGroupLimit over
# (query_id)-partitioned rank. At 100 TB with Q in the hundreds, the scan
# amortizes across the batch: cost ~= 1 corpus pass + one (query_id,
# rank<=k)-pruned shuffle of Q*k survivors per partition — NOT Q passes
# and NOT a row-blowup shuffle of Q*N scored rows (the WindowGroupLimit
# pushdown keeps per-partition output at Q*k).
#
# The batch is a WORKLOAD, not a corpus property: Q is hard-capped at
# BATCH_Q_MAX. The first cut of this op selected every stride-th vector
# with no cap, so Q grew with N and per-pass work went O(N^2/stride) —
# the 10x scale stress measured it 98x (vs ~10x for a linear op). With
# the cap, the pass is O(N * BATCH_Q_MAX) at any corpus size.

BATCH_Q_STRIDE = 100  # query batch = every 100th vector ...
BATCH_Q_MAX = 20  # ... up to a FIXED batch size, independent of corpus N


@register(
    "ann_batch_query_topk",
    oracle=f"""
SELECT query_id, vec_id, label, cosine
FROM (
    SELECT q.vec_id AS query_id, a.vec_id, a.label,
           {_SQL_COS_AB} AS cosine,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY {_SQL_COS_AB} DESC, a.vec_id) AS rn
    FROM embeddings a,
         (SELECT vec_id, embedding FROM embeddings
          WHERE vec_id % {BATCH_Q_STRIDE} = 0
            AND vec_id < {BATCH_Q_STRIDE * BATCH_Q_MAX}) q
    WHERE a.vec_id <> q.vec_id
) t
WHERE rn <= {TOP_K}
""",
    doc="batch multi-query exact retrieval: the whole query batch "
    "broadcasts into ONE corpus scan (map-side scoring against every "
    "query), per-query top-k via WindowGroupLimit — Q queries cost one "
    "pass, not Q passes",
    tags=("pipeline", "similarity", "batch"),
)
def ann_batch_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window  # noqa: PLC0415

    e = load_table(spark, sf_dir, "embeddings")
    queries = (
        e.filter(
            (F.col("vec_id") % BATCH_Q_STRIDE == 0)
            & (F.col("vec_id") < BATCH_Q_STRIDE * BATCH_Q_MAX)
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_embedding"),
        )
        .limit(BATCH_Q_MAX)  # plan-visible bound (see quality/plan_lint)
    )
    scored = (
        e.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "label",
            _spark_cosine(F.col("embedding"), F.col("q_embedding")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "vec_id", "label", "cosine")
    )


# --- non-parametric OOD scoring: k-NN distance to a reference sample -----------------
# The "distance to data" curation signal (as used for OOD pruning and
# novelty weighting): a vector far from its k-th nearest neighbor in a
# reference sample of the corpus is an outlier/novelty candidate. This is
# the non-parametric complement of embedding_mahalanobis_outliers (which
# assumes a diagonal Gaussian).
#
# Scale: the reference sample is hash-selected (deterministic, ~N/OOD_MOD
# vectors; at 100 TB the modulus derives from input size like
# adaptive_nbits — the constant here is the small-SF floor) and collected
# to the driver as a model-sized literal table. Scoring is then ONE
# map-side pass: every vector folds its distances to the <=|sample|
# literal refs inside codegen, sorts the tiny array, and picks the k-th —
# zero shuffle, zero join, no N x sample row blowup.

# Like the batch-retrieval cap: the reference sample is a MODEL, not a
# corpus property — the hash preselection thins the scan, and the ordered
# LIMIT bounds both the driver collect and the per-row fold count at any
# corpus size (the uncapped version's sample grew as N/OOD_MOD: 8.9 s at
# sf0.1 from a 125-fold codegen expression).
OOD_MOD = 16
OOD_K = 3
OOD_REF_MAX = 48


@register(
    "embedding_knn_ood_score",
    oracle=f"""
WITH refs AS (
    SELECT vec_id AS rid,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS rvec
    FROM embeddings
    WHERE {sql_salted_hash("vec_id", ":ood")} % {OOD_MOD} = 0
    ORDER BY vec_id LIMIT {OOD_REF_MAX}
),
dists AS (
    SELECT e.vec_id, {_sql_l2("e.embedding", "r.rvec")} AS d
    FROM embeddings e JOIN refs r ON r.rid <> e.vec_id
)
SELECT vec_id,
       CAST(COUNT(*) AS BIGINT) AS n_ref,
       round(list_sort(list(d))[{OOD_K}], 9) AS knn_d
FROM dists GROUP BY 1
""",
    doc=f"non-parametric OOD score: distance to the {OOD_K}-th nearest of a "
    "hash-sampled reference set, computed as a map-side literal fold per "
    "vector (zero shuffle/join; sample size is the model, not a row "
    "blowup) — the kNN complement of the Mahalanobis outlier prune",
    tags=("pipeline", "similarity", "diagnostics", "ood"),
)
def embedding_knn_ood_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ref_rows = (
        e.filter(spark_salted_hash("vec_id", ":ood") % OOD_MOD == 0)
        .orderBy("vec_id")
        .limit(OOD_REF_MAX)
        .collect()
    )
    refs = sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in ref_rows
    )
    # ONE literal array-of-structs + nested lambdas, not |sample| unrolled
    # fold expressions: the unrolled form compiled ~|sample| x DIM
    # subexpressions and its codegen time dominated the query (7.9 s at
    # sf0.1 for 2k rows); the folded form is a constant-size expression
    # whose work is the same arithmetic in the same order.
    refs_lit = F.array(
        *[
            F.struct(
                F.lit(rid).alias("rid"),
                F.array(*[F.lit(float(v)) for v in rvec]).alias("rvec"),
            )
            for rid, rvec in refs
        ]
    )
    emb = F.col("embedding")
    others = F.filter(refs_lit, lambda s: s["rid"] != F.col("vec_id"))
    dists = F.transform(
        others,
        lambda s: F.aggregate(
            F.zip_with(
                emb, s["rvec"], lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    # materialize the distance array as a real column before sorting/indexing
    # references it (unmaterialized-expression trap, CLAUDE.md)
    scored = e.select("vec_id", F.size(others).cast("long").alias("n_ref"), dists.alias("dd"))
    return scored.select(
        "vec_id",
        "n_ref",
        F.round(F.element_at(F.array_sort(F.col("dd")), OOD_K), 9).alias("knn_d"),
    )


# --- Matryoshka prefix-dimension recall ---------------------------------------------
# MRL-style embeddings are trained so that a PREFIX of the vector is itself
# a usable embedding; retrieval then scores with (say) the first 8 of 64
# dims at 1/8 the FLOPs and memory, and recall@k vs the full-dim exact
# ranking is THE metric that decides which prefix ships. This measures it
# on-corpus: one scan computes every prefix cosine (independent left-folds
# per prefix so each arm is bit-identical to the oracle's fold), one
# explode fans (vec_id, prefix_dim, cosine), and per-prefix top-k goes
# through a rank window that compiles to WindowGroupLimit — partitions
# emit at most |prefixes| x k rows, never the corpus. The tiny top-k frame
# is persisted before its truth-vs-arm self-join (house rule).

MATRYOSHKA_DIMS = (8, 16, 32)
_MAT_FULL = 64


def _sql_prefix_cos(d: int) -> str:
    def dot(u, v):
        return (
            f"list_reduce(list_transform(generate_series(1, {d}), "
            f"i -> CAST({u}[i] AS DOUBLE) * CAST({v}[i] AS DOUBLE)), (x,y) -> x+y)"
        )

    return (
        f"{dot('a.embedding', 'q.embedding')} / "
        f"(sqrt({dot('a.embedding', 'a.embedding')}) * "
        f"sqrt({dot('q.embedding', 'q.embedding')}))"
    )


def _spark_prefix_cos(a: Column, b: Column, d: int) -> Column:
    def dot(u, v):
        return F.aggregate(
            F.zip_with(
                F.slice(u, 1, d),
                F.slice(v, 1, d),
                lambda x, y: x.cast("double") * y.cast("double"),
            ),
            F.lit(0.0),
            lambda acc, v_: acc + v_,
        )

    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


_MAT_ARMS_SQL = ",\n".join(
    f"""arm{d} AS (
  SELECT a.vec_id FROM embeddings a,
       (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
  WHERE a.vec_id <> {QUERY_VEC_ID}
  ORDER BY {_sql_prefix_cos(d)} DESC, a.vec_id
  LIMIT {TOP_K}
)"""
    for d in (*MATRYOSHKA_DIMS, _MAT_FULL)
)

_MAT_ORACLE = f"""
WITH {_MAT_ARMS_SQL}
SELECT * FROM (
  {" UNION ALL ".join(
      f'''SELECT CAST({d} AS BIGINT) AS prefix_dim,
           CAST((SELECT COUNT(*) FROM arm{d} JOIN arm{_MAT_FULL} USING (vec_id)) AS BIGINT) AS n_hits,
           CAST({TOP_K} AS BIGINT) AS k,
           CAST((SELECT COUNT(*) FROM arm{d} JOIN arm{_MAT_FULL} USING (vec_id)) AS DOUBLE) / {TOP_K} AS recall_at_k'''
      for d in MATRYOSHKA_DIMS
  )}
)
"""


@register(
    "ann_matryoshka_prefix_recall",
    oracle=_MAT_ORACLE,
    doc=f"recall@{TOP_K} of Matryoshka prefix-dim retrieval (dims "
    f"{MATRYOSHKA_DIMS}) vs the full-{_MAT_FULL}-dim exact ranking — one "
    "corpus scan for every prefix, per-prefix top-k via WindowGroupLimit, "
    "both arms deterministic (unique vec_id tiebreak)",
    tags=("pipeline", "similarity", "eval", "matryoshka"),
)
def ann_matryoshka_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).limit(1).select(
        F.col("embedding").alias("q_embedding")
    )
    dims = (*MATRYOSHKA_DIMS, _MAT_FULL)
    scored = (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).cast("long").alias("prefix_dim"),
                            _spark_prefix_cos(
                                F.col("embedding"), F.col("q_embedding"), d
                            ).alias("cosine"),
                        )
                        for d in dims
                    ]
                )
            ).alias("arm"),
        )
        .select("vec_id", "arm.prefix_dim", "arm.cosine")
    )
    w = Window.partitionBy("prefix_dim").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    topk = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= TOP_K
    )
    topk = topk.select("prefix_dim", "vec_id")
    # truth side is exactly TOP_K ids — a bounded collect (the K-seed-rows
    # budget), which avoids a self-join on unpersisted lineage entirely
    truth_ids = [
        int(r["vec_id"])
        for r in topk.filter(F.col("prefix_dim") == _MAT_FULL).collect()
    ]
    hits = (
        topk.filter(F.col("prefix_dim") != _MAT_FULL)
        .filter(F.col("vec_id").isin(truth_ids))
        .groupBy("prefix_dim")
        .agg(F.count("*").alias("n"))
    )
    # a prefix arm could in principle share zero ids with truth — keep the
    # row via a left join from the literal dim list
    dims_df = spark.createDataFrame(
        [(int(d),) for d in MATRYOSHKA_DIMS], "prefix_dim long"
    )
    return dims_df.join(hits, "prefix_dim", "left").select(
        "prefix_dim",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_hits"),
        F.lit(TOP_K).cast("long").alias("k"),
        (F.coalesce(F.col("n"), F.lit(0)).cast("double") / TOP_K).alias(
            "recall_at_k"
        ),
    )


# --- reciprocal rank fusion of two retrieval arms -----------------------------------
# Hybrid retrieval's standard combiner: RRF(d) = sum over arms of
# 1/(K + rank_arm(d)) — rank-based, so arms with incomparable scores
# (cosine vs inner product here, lexical vs semantic in the wild) fuse
# without calibration. Each arm is TakeOrdered top-POOL (never a global
# sort; ranks are assigned on the POOL-row frame), the fusion is a
# full-outer join of two POOL-row frames, and the score is two IEEE
# divisions + one addition in fixed order — exact cross-engine.

RRF_K = 60
RRF_POOL = 50

_SQL_DOT_AB = (
    "list_reduce(list_transform(generate_series(1, len(a.embedding)), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)), (x,y) -> x+y)"
)


def _spark_dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v_: acc + v_,
    )

_RRF_ARMS_SQL = f"""
q AS (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
cos_pool AS (
  SELECT a.vec_id, row_number() OVER (ORDER BY {_SQL_COS_AB} DESC, a.vec_id) AS r
  FROM embeddings a, q WHERE a.vec_id <> {QUERY_VEC_ID}
  ORDER BY {_SQL_COS_AB} DESC, a.vec_id LIMIT {RRF_POOL}
),
dot_pool AS (
  SELECT a.vec_id, row_number() OVER (ORDER BY {_SQL_DOT_AB} DESC, a.vec_id) AS r
  FROM embeddings a, q WHERE a.vec_id <> {QUERY_VEC_ID}
  ORDER BY {_SQL_DOT_AB} DESC, a.vec_id LIMIT {RRF_POOL}
)
"""

_RRF_ORACLE = f"""
WITH {_RRF_ARMS_SQL}
SELECT COALESCE(c.vec_id, d.vec_id) AS vec_id,
       CAST(c.r AS BIGINT) AS cos_rank,
       CAST(d.r AS BIGINT) AS dot_rank,
       (CASE WHEN c.r IS NULL THEN 0.0 ELSE 1.0 / CAST({RRF_K} + c.r AS DOUBLE) END)
       + (CASE WHEN d.r IS NULL THEN 0.0 ELSE 1.0 / CAST({RRF_K} + d.r AS DOUBLE) END)
         AS rrf_score
FROM cos_pool c FULL OUTER JOIN dot_pool d ON c.vec_id = d.vec_id
ORDER BY rrf_score DESC, vec_id
LIMIT {TOP_K}
"""


@register(
    "ann_reciprocal_rank_fusion",
    oracle=_RRF_ORACLE,
    doc=f"hybrid retrieval: RRF (K={RRF_K}) fusion of a cosine arm and an "
    f"inner-product arm, each a TakeOrdered top-{RRF_POOL} pool — "
    "rank-based combination, exact cross-engine",
    tags=("pipeline", "similarity", "fusion"),
)
def ann_reciprocal_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See _RRF_ORACLE. At 100 TB each arm is the map-only broadcast-probe
    scan + TakeOrderedAndProject; ranks attach on the POOL-row result, so
    no global window ever sees corpus rows."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).limit(1).select(
        F.col("embedding").alias("q_embedding")
    )
    scored = (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            _spark_cosine(F.col("embedding"), F.col("q_embedding")).alias("cos"),
            _spark_dot(F.col("embedding"), F.col("q_embedding")).alias("dot"),
        )
    )

    def arm(col: str):
        pool = scored.orderBy(F.col(col).desc(), F.col("vec_id").asc()).limit(
            RRF_POOL
        )
        w = Window.orderBy(F.col(col).desc(), F.col("vec_id").asc())
        return pool.withColumn("r", F.row_number().over(w)).select("vec_id", "r")

    c = arm("cos").withColumnRenamed("r", "cr")
    d = arm("dot").withColumnRenamed("r", "dr")
    term = lambda r: F.when(  # noqa: E731
        F.col(r).isNull(), F.lit(0.0)
    ).otherwise(F.lit(1.0) / (F.lit(RRF_K) + F.col(r)).cast("double"))
    return (
        c.join(d, "vec_id", "full_outer")
        .select(
            "vec_id",
            F.col("cr").cast("long").alias("cos_rank"),
            F.col("dr").cast("long").alias("dot_rank"),
            (term("cr") + term("dr")).alias("rrf_score"),
        )
        .orderBy(F.col("rrf_score").desc(), F.col("vec_id").asc())
        .limit(TOP_K)
    )


# --- exact KNN-Shapley data valuation --------------------------------------------------
# Which training vectors actually help a KNN classifier on a held-out
# probe set? Jia et al. (2019)'s closed-form KNN-Shapley gives every
# training point its EXACT Shapley value in one sorted pass per probe:
#   s_(N) = 1[y_(N)=y_q]/N
#   s_(i) = s_(i+1) + (1[y_(i)=y_q] - 1[y_(i+1)=y_q]) * min(K,i) / (K*i)
# (points ranked by descending cosine to the probe). Valuation runs on a
# deterministic md5-ranked sample — 8 probes + 256 training vectors — the
# fixed-size-design discipline (Fisher basket / Croston cohort): the
# sample pick is a distributed TakeOrdered at any corpus size, scoring is
# a broadcast join, and the O(N^2) suffix sums run inside 8 bounded
# arrays. Every term is an integer ratio evaluated in IEEE doubles in the
# same order both engines — bit-identical.

_SHAP_PROBES = 8
_SHAP_TRAIN = 256
_SHAP_K = 5


def _shapley_oracle() -> str:
    from f1_lakehouse_spark.pipeline.hashing import sql_md5_hash48

    h = sql_md5_hash48("CAST(vec_id AS VARCHAR)")
    return f"""
WITH ranked AS (
  SELECT vec_id, label, embedding,
         ROW_NUMBER() OVER (ORDER BY {h}, vec_id) AS rn
  FROM embeddings
), probes AS (
  SELECT * FROM ranked WHERE rn <= {_SHAP_PROBES}
), train AS (
  SELECT * FROM ranked WHERE rn > {_SHAP_PROBES} AND rn <= {_SHAP_PROBES} + {_SHAP_TRAIN}
), pairs AS (
  SELECT q.vec_id AS q_id, q.label AS q_label,
         a.vec_id AS t_id, a.label AS t_label,
         -(list_reduce(list_transform(generate_series(1, len(a.embedding)),
             i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)), (x,y) -> x+y)
           / (sqrt(list_reduce(list_transform(generate_series(1, len(a.embedding)),
                i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), (x,y) -> x+y))
              * sqrt(list_reduce(list_transform(generate_series(1, len(q.embedding)),
                  i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)), (x,y) -> x+y)))) AS negcos
  FROM train a CROSS JOIN probes q
), per_probe AS (
  SELECT q_id, q_label,
         list(struct_pack(nc := negcos, tid := t_id,
                          m := CASE WHEN t_label = q_label THEN 1 ELSE 0 END)
              ORDER BY negcos, t_id) AS arr
  FROM pairs GROUP BY q_id, q_label
), shap AS (
  SELECT q_id, arr, len(arr) AS n,
         list_transform(range(1, len(arr) + 1),
           i -> CAST(arr[len(arr)].m AS DOUBLE) / CAST(len(arr) AS DOUBLE)
              + list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                  list_transform(range(i, len(arr)),
                    j -> CAST((arr[j].m - arr[j + 1].m)
                              * CASE WHEN j < {_SHAP_K} THEN j ELSE {_SHAP_K} END AS DOUBLE)
                         / CAST({_SHAP_K} * j AS DOUBLE))),
                  (a, b) -> a + b)) AS sv
  FROM per_probe
), exploded AS (
  SELECT arr[i].tid AS vec_id, q_id, sv[i] AS s
  FROM (SELECT unnest(range(1, n + 1)) AS i, arr, sv, q_id FROM shap)
), folded AS (
  SELECT vec_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(list(struct_pack(q := q_id, s := s) ORDER BY q_id), x -> x.s)),
           (a, b) -> a + b) / CAST({_SHAP_PROBES} AS DOUBLE) AS knn_shapley
  FROM exploded GROUP BY vec_id
)
SELECT f.vec_id, t.label, f.knn_shapley
FROM folded f JOIN train t ON f.vec_id = t.vec_id
"""


@register(
    "embedding_knn_shapley",
    oracle=None,  # composed below (md5 SQL twin)
    doc=f"exact closed-form KNN-Shapley data valuation (K={_SHAP_K}) of a "
    f"{_SHAP_TRAIN}-vector md5-sampled training set against "
    f"{_SHAP_PROBES} held-out probes: descending-cosine rank per probe, "
    "telescoping suffix sums of integer-ratio terms, probe-ordered "
    "average — bit-exact cross-engine.",
    tags=("pipeline", "similarity", "valuation", "eval"),
)
def embedding_knn_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB: the sample pick is a distributed TakeOrdered over the md5
    rank; scoring is a broadcast join (probes are 8 rows); all O(N^2)
    work is inside 8 fixed-size arrays. Valuing MORE points scales by
    sharding the train sample, not by growing the array."""
    from f1_lakehouse_spark.pipeline.hashing import spark_md5_hash48

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding", spark_md5_hash48(F.col("vec_id").cast("string")).alias("h")
    )
    sample = (
        e.orderBy("h", "vec_id")
        .limit(_SHAP_PROBES + _SHAP_TRAIN)
        .select("vec_id", "label", "embedding", "h")
    )
    sample = sample.persist()
    sample.count()
    probes = sample.orderBy("h", "vec_id").limit(_SHAP_PROBES)
    train = sample.join(
        probes.select(F.col("vec_id").alias("pvid")),
        sample["vec_id"] == F.col("pvid"),
        "left_anti",
    )
    q, a = probes.alias("q"), train.alias("a")
    pairs = a.crossJoin(F.broadcast(q)).select(
        F.col("q.vec_id").alias("q_id"),
        F.col("q.label").alias("q_label"),
        F.col("a.vec_id").alias("t_id"),
        F.col("a.label").alias("t_label"),
        (-_spark_cosine(F.col("a.embedding"), F.col("q.embedding"))).alias("negcos"),
    )
    per_probe = pairs.groupBy("q_id", "q_label").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("negcos").alias("nc"),
                    F.col("t_id").alias("tid"),
                    F.when(F.col("t_label") == F.col("q_label"), 1)
                    .otherwise(0)
                    .alias("m"),
                )
            )
        ).alias("arr")
    )
    n = F.size("arr")
    k = F.lit(_SHAP_K)
    dzero = F.lit(0.0)
    last_term = (
        F.element_at("arr", n)["m"].cast("double") / n.cast("double")
    )
    shap = per_probe.select(
        "q_id",
        "arr",
        n.alias("n"),
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: last_term
            + F.aggregate(
                F.transform(
                    # j in [i, n-1]; slice avoids the descending-sequence trap
                    F.slice(F.sequence(F.lit(1), n), i, n - i),
                    lambda j: (
                        (
                            F.element_at("arr", j.cast("int"))["m"]
                            - F.element_at("arr", (j + F.lit(1)).cast("int"))["m"]
                        )
                        * F.least(k, j)
                    ).cast("double")
                    / (k * j).cast("double"),
                ),
                dzero,
                lambda acc, t: acc + t,
            ),
        ).alias("sv"),
    )
    exploded = shap.select(
        F.explode(F.sequence(F.lit(1), F.col("n"))).alias("i"), "arr", "sv", "q_id"
    ).select(
        F.element_at("arr", F.col("i"))["tid"].alias("vec_id"),
        "q_id",
        F.element_at("sv", F.col("i")).alias("s"),
    )
    folded = exploded.groupBy("vec_id").agg(
        (
            F.aggregate(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct(F.col("q_id").alias("q"), F.col("s")))
                    ),
                    lambda x: x["s"],
                ),
                dzero,
                lambda acc, t: acc + t,
            )
            / F.lit(float(_SHAP_PROBES))
        ).alias("knn_shapley")
    )
    out = folded.join(
        train.select(F.col("vec_id").alias("tv"), "label"),
        folded["vec_id"] == F.col("tv"),
    ).select("vec_id", "label", "knn_shapley")
    out = pin_small_result(out, 1024)
    sample.unpersist()
    return out


from f1_lakehouse_spark.registry import REGISTRY as _REG5  # noqa: E402

_REG5["embedding_knn_shapley"].oracle = _shapley_oracle()


# --- Johnson-Lindenstrauss random projection ----------------------------------------
# Dimensionality reduction for the embedding column: project the d-dim
# vector onto JL_DIM deterministic +-1 sign rows (Achlioptas 2003 — the
# database-friendly JL construction) scaled by 1/sqrt(JL_DIM), and audit
# the distortion per vector: ||Px||^2 / ||x||^2 concentrates around 1, so
# rows far from 1 flag vectors the reduced index would mis-rank. The sign
# matrix is md5-derived (data-independent, regenerated identically in
# both engines' builds — no model file, no broadcast).
#
# Determinism: signs are exact +-1.0 doubles, every dot is the shared
# left-fold helper (fixed order), the cross-dim sum is a fixed-order
# chain, and /JL_DIM is an exact power-of-two division; round(,9) on the
# emitted ratios absorbs nothing here but keeps the output contract
# uniform. Map-only: zero shuffles, scan speed at 100 TB.

JL_DIM = 16
_JL_SRC_DIM = 64


def _jl_sign_rows() -> list[list[float]]:
    import hashlib  # noqa: PLC0415

    rows: list[list[float]] = []
    for j in range(JL_DIM):
        row = []
        for i in range(_JL_SRC_DIM):
            h = hashlib.md5(f"jl:{j}:{i}".encode()).hexdigest()
            row.append(1.0 if int(h[:12], 16) % 2 == 0 else -1.0)
        rows.append(row)
    return rows


_JL_ROWS = _jl_sign_rows()


def _jl_oracle() -> str:
    # each dot evaluated ONCE in a MATERIALIZED CTE (the inlined form
    # re-evaluates every 64-step fold per referencing column)
    dot_cols = ",\n         ".join(
        f"({_sql_dot('embedding', _sql_plane_literal(row))}) AS d{j}"
        for j, row in enumerate(_JL_ROWS)
    )
    proj2 = (
        "(" + " + ".join(f"d{j} * d{j}" for j in range(JL_DIM)) + f") / {float(JL_DIM)!r}"
    )
    orig2 = (
        "list_reduce(list_transform(generate_series(1, len(embedding)), "
        "i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), "
        "(x, y) -> x + y)"
    )
    return f"""
WITH feat AS MATERIALIZED (
  SELECT vec_id, label,
         {orig2} AS o2,
         {dot_cols}
  FROM embeddings
)
SELECT vec_id, label,
       round(o2, 9) AS orig_norm2,
       round({proj2}, 9) AS proj_norm2,
       round(d0 / sqrt({float(JL_DIM)!r}), 9) AS proj_d1,
       round(d1 / sqrt({float(JL_DIM)!r}), 9) AS proj_d2,
       CASE WHEN o2 > CAST(0.0 AS DOUBLE)
            THEN round(({proj2}) / o2, 9) END AS distortion
FROM feat
"""


@register(
    "embedding_random_projection_jl",
    oracle=_jl_oracle(),
    doc=f"Johnson-Lindenstrauss +-1 random projection ({_JL_SRC_DIM}->"
    f"{JL_DIM} dims, Achlioptas construction, md5-derived data-independent "
    "signs) with a per-vector norm-distortion audit ||Px||^2/||x||^2 — "
    "the scale path for downstream ANN on reduced vectors; map-only, "
    "zero shuffles, left-fold dots",
    tags=("pipeline", "similarity", "projection"),
)
def embedding_random_projection_jl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_lakehouse_spark.pinning import pin_checkpoint  # noqa: PLC0415

    e = load_table(spark, sf_dir, "embeddings")
    vec = F.col("embedding")
    dots = [_spark_dot_lit(vec, row) for row in _JL_ROWS]
    orig2 = F.aggregate(
        F.transform(vec, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    # each 64-step dot fold runs ONCE: CollapseProject would otherwise
    # substitute every fold into each of its ~3 use sites downstream
    # (the unmaterialized-expression trap, CLAUDE.md) — checkpoint the
    # narrow (18-double) feature frame like the BM25 feature pin
    feat = pin_checkpoint(
        e.select(
            "vec_id",
            "label",
            orig2.alias("o2"),
            *[d.alias(f"d{j}") for j, d in enumerate(dots)],
        )
    )
    proj2 = F.col("d0") * F.col("d0")
    for j in range(1, JL_DIM):
        proj2 = proj2 + F.col(f"d{j}") * F.col(f"d{j}")
    proj2 = proj2 / F.lit(float(JL_DIM))
    scale = F.sqrt(F.lit(float(JL_DIM)))
    o2 = F.col("o2")
    return feat.select(
        "vec_id",
        "label",
        F.round(o2, 9).alias("orig_norm2"),
        F.round(proj2, 9).alias("proj_norm2"),
        F.round(F.col("d0") / scale, 9).alias("proj_d1"),
        F.round(F.col("d1") / scale, 9).alias("proj_d2"),
        F.when(o2 > F.lit(0.0), F.round(proj2 / o2, 9)).alias("distortion"),
    )
