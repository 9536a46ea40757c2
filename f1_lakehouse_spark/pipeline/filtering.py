"""Corpus-filtering operators for training-data pipelines over ``documents``:
benchmark decontamination, Gopher-style repetition filters, and PII
scrubbing. Together with dedup/text/curation these complete the standard
pre-training data-prep chain (clean -> filter -> decontaminate -> dedup ->
curate -> pack).

Scale notes (the 100 TB lens):
- Decontamination joins the corpus against the BENCHMARK n-gram set — the
  benchmark side is tiny (MBs) regardless of corpus size, so the join is a
  broadcast hash join: one corpus scan, zero shuffle of the corpus. Grams
  travel as 48-bit integer hashes, never strings.
- The repetition filters are pure per-row array expressions (no explode,
  no shuffle): word/bigram statistics fold inside whole-stage codegen at
  scan speed.
- PII scrub is regexp_extract_all/regexp_replace — JVM regex, scan-speed.
  The detector is validated by deterministic canary injection (synthetic
  emails/phones seeded into a hash-selected subset inside the query), the
  standard way scrubbers are integration-tested without real PII.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from f1_lakehouse_spark.pipeline.hashing import (
    spark_md5_hash48,
    spark_salted_hash,
    sql_md5_hash48,
)
from f1_lakehouse_spark.registry import register
from f1_lakehouse_spark.tables import cached_per_input, load_table

# --- benchmark decontamination ------------------------------------------------------
# The GPT-3/Llama-style n-gram overlap check: any training document sharing
# a >= DECONTAM_N word-gram with a held-out benchmark document is flagged.
# Here the "benchmark" is a deterministic hash-selected ~5% slice of the
# corpus (stand-in for the real eval sets, which are external inputs); the
# operator shape — benchmark grams broadcast against a corpus gram scan —
# is exactly the production one.

DECONTAM_N = 4  # words per shingle (13 in production; 4 keeps the synthetic
# short-doc corpus non-degenerate — ~10% of train docs flag at sf0.01)
BENCH_MOD = 10  # 1/10 of docs act as the held-out benchmark

_BENCH_SQL = (
    sql_md5_hash48("CAST(doc_id AS VARCHAR) || ':bench'") + f" % {BENCH_MOD}"
)


@register(
    "decontam_ngram_overlap",
    oracle=f"""
WITH base AS (
    SELECT doc_id, string_split(text, ' ') AS ws,
           {_BENCH_SQL} AS bench_slot
    FROM documents
),
grams AS (
    SELECT DISTINCT doc_id, bench_slot, g FROM (
        SELECT doc_id, bench_slot,
               unnest([{sql_md5_hash48(
                   "array_to_string(ws[i:i+" + str(DECONTAM_N - 1) + "], ' ')")}
                       FOR i IN generate_series(1, len(ws) - {DECONTAM_N - 1})]) AS g
        FROM base WHERE len(ws) >= {DECONTAM_N}
    )
),
bench AS (SELECT DISTINCT g FROM grams WHERE bench_slot = 0),
hits AS (
    SELECT doc_id, COUNT(*) AS n_overlap
    FROM grams JOIN bench USING (g)
    WHERE bench_slot <> 0
    GROUP BY 1
)
SELECT t.doc_id,
       CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap_grams,
       CASE WHEN COALESCE(h.n_overlap, 0) > 0 THEN 1 ELSE 0 END AS contaminated
FROM (SELECT doc_id FROM base WHERE bench_slot <> 0) t
LEFT JOIN hits h USING (doc_id)
""",
    doc=f"benchmark decontamination: flag training docs sharing any "
    f"{DECONTAM_N}-word gram with the held-out benchmark slice "
    "(benchmark grams broadcast — corpus never shuffles; grams joined as "
    "48-bit integer hashes)",
    tags=("pipeline", "filtering", "decontam"),
)
@cached_per_input("documents")
def decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shared (session, input)-keyed persisted cache: called by its own
    # query AND the survivor composition; the previous per-call persist
    # (kept for the bench/verify double-read) accumulated one persisted
    # copy per invocation — a storage leak pattern at 100 TB
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.split("text", " ").alias("ws"),
        (
            spark_salted_hash("doc_id", ":bench") % BENCH_MOD
        ).alias("bench_slot"),
    )
    gram_arr = F.transform(
        F.sequence(F.lit(1), F.size("ws") - F.lit(DECONTAM_N - 1)),
        lambda i: spark_md5_hash48(
            F.concat_ws(" ", F.slice("ws", i, F.lit(DECONTAM_N)))
        ),
    )
    # bench and hits both derive from the gram explode (the dominant cost):
    # persist AND materialize before the self-join (CLAUDE.md convention)
    grams = (
        base.filter(F.size("ws") >= DECONTAM_N)
        .select("doc_id", "bench_slot", F.explode(gram_arr).alias("g"))
        .distinct()
        .persist()
    )
    grams.count()
    bench = grams.filter(F.col("bench_slot") == 0).select("g").distinct()
    hits = (
        grams.filter(F.col("bench_slot") != 0)
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    train = base.filter(F.col("bench_slot") != 0).select("doc_id")
    out = train.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_overlap"), F.lit(0)).cast("long").alias("n_overlap_grams"),
        F.when(F.coalesce(F.col("n_overlap"), F.lit(0)) > 0, 1)
        .otherwise(0)
        .alias("contaminated"),
    )
    out = out.persist()
    out.count()
    grams.unpersist()
    return out


# --- Gopher-style repetition filters ------------------------------------------------
# The Rae et al. (Gopher) repetition heuristics, adapted to the word level
# for this corpus (the originals use lines/paragraphs, which the synthetic
# docs lack): duplicate-word fraction, most-frequent-word fraction,
# duplicate-bigram fraction, and a composite pass flag. Pure array math —
# no explode, no shuffle; every statistic folds per-row at scan speed.

REP_MAX_DUP_WORD = 0.55
REP_MAX_TOP_WORD = 0.15
REP_MAX_DUP_BIGRAM = 0.40


@register(
    "quality_gopher_repetition",
    oracle=f"""
WITH base AS (
    SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
feats AS (
    SELECT doc_id,
           len(ws) AS n_words,
           1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS dup_word_frac,
           CAST(list_max([len(list_filter(ws, x -> x = w))
                          FOR w IN list_distinct(ws)]) AS DOUBLE)
               / len(ws) AS top_word_frac,
           CASE WHEN len(ws) < 2 THEN 0.0
                ELSE 1.0 - CAST(len(list_distinct(
                         [ws[i] || ' ' || ws[i+1]
                          FOR i IN generate_series(1, len(ws) - 1)])) AS DOUBLE)
                     / (len(ws) - 1) END AS dup_bigram_frac
    FROM base
)
SELECT doc_id, n_words, dup_word_frac, top_word_frac, dup_bigram_frac,
       CASE WHEN dup_word_frac <= {REP_MAX_DUP_WORD}
             AND top_word_frac <= {REP_MAX_TOP_WORD}
             AND dup_bigram_frac <= {REP_MAX_DUP_BIGRAM}
            THEN 1 ELSE 0 END AS passes_repetition
FROM feats
""",
    doc="Gopher-style repetition filter: duplicate-word / top-word / "
    "duplicate-bigram fractions + composite gate, all per-row array "
    "expressions (no shuffle anywhere)",
    tags=("pipeline", "filtering", "quality"),
)
@cached_per_input("documents")
def quality_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11: session-cached (the cache-roster convention, SCALE.md): eleven
    # queries consume this label frame (every scoring_* evaluation joins
    # the gopher gate), and the top-word statistic is an interpreted
    # nested-HOF pass (O(words²) per doc) that cost ~0.8 s per CALL at
    # sf0.1 — one persisted entry per (session, input), rolled over on
    # input change; borrowed by consumers (never unpersisted by them).
    d = load_table(spark, sf_dir, "documents")
    # materialize ws as a real column first so lambdas reference a column,
    # not a re-evaluated split() expression (see CLAUDE.md determinism note)
    base = d.select("doc_id", F.split("text", " ").alias("ws"))
    n = F.size("ws")
    top_count = F.array_max(
        F.transform(
            F.array_distinct("ws"),
            lambda w: F.size(F.filter("ws", lambda x: x == w)),
        )
    )
    bigrams = F.transform(
        F.sequence(F.lit(1), n - F.lit(1)),
        lambda i: F.concat(
            F.element_at("ws", i), F.lit(" "), F.element_at("ws", i + F.lit(1))
        ),
    )
    feats = base.select(
        "doc_id",
        n.alias("n_words"),
        (F.lit(1.0) - F.size(F.array_distinct("ws")).cast("double") / n).alias(
            "dup_word_frac"
        ),
        (top_count.cast("double") / n).alias("top_word_frac"),
        F.when(n < 2, F.lit(0.0))
        .otherwise(
            F.lit(1.0)
            - F.size(F.array_distinct(bigrams)).cast("double") / (n - F.lit(1))
        )
        .alias("dup_bigram_frac"),
    )
    out = feats.select(
        "doc_id",
        "n_words",
        "dup_word_frac",
        "top_word_frac",
        "dup_bigram_frac",
        F.when(
            (F.col("dup_word_frac") <= REP_MAX_DUP_WORD)
            & (F.col("top_word_frac") <= REP_MAX_TOP_WORD)
            & (F.col("dup_bigram_frac") <= REP_MAX_DUP_BIGRAM),
            1,
        )
        .otherwise(0)
        .alias("passes_repetition"),
    )
    out = out.persist()
    out.count()
    return out


# --- PII scrub (canary-validated) ---------------------------------------------------
# Regex detection + masking of emails and phone-shaped tokens. The corpus
# is synthetic and PII-free, so the operator seeds deterministic canaries
# (a fake email into hash-slot-0 docs, a fake phone into hash-slot-1 docs)
# and then proves the scrubber finds and removes exactly those — the
# injection, detection, and redaction are all inside the differential gate.

_EMAIL_RE = "[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
_PHONE_RE = "555-[0-9]{4}"

_PII_SLOT_SQL = (
    sql_md5_hash48("CAST(doc_id AS VARCHAR) || ':pii'") + " % 10"
)


@register(
    "pii_scrub_redact",
    oracle=f"""
WITH seeded AS (
    SELECT doc_id,
           CASE WHEN {_PII_SLOT_SQL} = 0 THEN
                    text || ' contact user' || CAST(doc_id AS VARCHAR)
                         || '@example.com today'
                WHEN {_PII_SLOT_SQL} = 1 THEN
                    text || ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                ELSE text END AS t
    FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(t, '{_EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(t, '{_PHONE_RE}')) AS n_phones,
       CASE WHEN regexp_matches(t, '{_EMAIL_RE}') OR regexp_matches(t, '{_PHONE_RE}')
            THEN 0 ELSE 1 END AS pii_free,
       regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                      '{_PHONE_RE}', '<PHONE>', 'g') AS redacted
FROM seeded
""",
    doc="PII scrub: regex email/phone detection + masking, validated by "
    "deterministic canary injection (hash-selected docs get synthetic PII "
    "appended; the gate proves the scrubber catches exactly those)",
    tags=("pipeline", "filtering", "pii"),
)
def pii_scrub_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    slot = (
        spark_salted_hash("doc_id", ":pii") % 10
    )
    seeded = d.select(
        "doc_id",
        F.when(
            slot == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com today"),
            ),
        )
        .when(
            slot == 1,
            F.concat(
                F.col("text"),
                F.lit(" call 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("t"),
    )
    n_emails = F.size(F.regexp_extract_all("t", F.lit(_EMAIL_RE), 0))
    n_phones = F.size(F.regexp_extract_all("t", F.lit(_PHONE_RE), 0))
    return seeded.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        F.when((n_emails > 0) | (n_phones > 0), 0).otherwise(1).alias("pii_free"),
        F.regexp_replace(
            F.regexp_replace("t", _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
        ).alias("redacted"),
    )


# --- end-to-end composition: the materialized training corpus ------------------------
# What the whole pipeline exists to produce: the surviving documents after
# exact+near dedup (cluster representatives only), the Gopher repetition
# gate, and benchmark decontamination (the held-out benchmark slice itself
# is excluded from training by construction). Each stage is the
# already-registered scale-safe operator; composing them is three doc_id
# equi-joins (semi-join shape — at 100 TB each stage is one pass and the
# intersection never widens a row). The oracle nests the three stages'
# own oracles, so the composition is differentially checked end-to-end,
# recursive-CTE clustering included.

from f1_lakehouse_spark.pipeline import dedup as _dedup  # noqa: E402  (after registrations)
from f1_lakehouse_spark.registry import REGISTRY as _REGISTRY  # noqa: E402


@register(
    "pipeline_corpus_survivors",
    oracle=f"""
WITH kept AS (
    SELECT doc_id FROM ({{keep}}) WHERE keep = 1
),
rep AS (
    SELECT doc_id FROM ({{rep}}) WHERE passes_repetition = 1
),
dec AS (
    SELECT doc_id FROM ({{dec}}) WHERE contaminated = 0
)
SELECT d.doc_id, d.lang, d.source,
       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
FROM documents d
JOIN kept USING (doc_id)
JOIN rep USING (doc_id)
JOIN dec USING (doc_id)
""".format(
        keep=_REGISTRY["dedup_keep_list"].oracle,
        rep=_REGISTRY["quality_gopher_repetition"].oracle,
        dec=_REGISTRY["decontam_ngram_overlap"].oracle,
    ),
    doc="the materialized training corpus: exact+near-dup representatives "
    "∩ repetition-gate passers ∩ uncontaminated training docs — the full "
    "pipeline composed and differentially checked end-to-end",
    tags=("pipeline", "filtering", "compose"),
)
@cached_per_input("documents")
def pipeline_corpus_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-entry (session, input)-keyed persisted cache: the composed
    # pipeline re-runs the dedup candidate+verify, gopher, and decontam
    # stages — its one other consumer (filtering_bias_audit) audits the
    # SAME survivors, so the three stages should run once per corpus, not
    # once per query
    kept = (
        _dedup.dedup_keep_list(spark, sf_dir)
        .filter(F.col("keep") == 1)
        .select("doc_id")
    )
    rep = (
        quality_gopher_repetition(spark, sf_dir)
        .filter(F.col("passes_repetition") == 1)
        .select("doc_id")
    )
    dec = (
        decontam_ngram_overlap(spark, sf_dir)
        .filter(F.col("contaminated") == 0)
        .select("doc_id")
    )
    d = load_table(spark, sf_dir, "documents")
    out = (
        d.join(kept, "doc_id")
        .join(rep, "doc_id")
        .join(dec, "doc_id")
        .select(
            "doc_id",
            "lang",
            "source",
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        )
    )
    out = out.persist()
    out.count()
    return out


# --- contamination provenance (the auditor's inverse report) ---------------------------
# decontam_ngram_overlap answers "which TRAINING docs must go"; the eval
# auditor needs the other direction: for each BENCHMARK item, how exposed
# is it — how many surviving-corpus docs share a gram with it, and which
# single doc leaks it hardest. Same gram frame as decontam (48-bit hashed
# word-4-grams, distinct per doc), the small benchmark side broadcasts
# into the pair join, per-pair overlap counts aggregate before the
# per-bench argmax (deterministic: count desc, doc_id asc). Zero-exposure
# benchmark items still report (LEFT join back), with -1 as the no-
# offender sentinel so the row stays hash-comparable.


@register(
    "decontam_provenance",
    oracle=f"""
WITH base AS (
    SELECT doc_id, string_split(text, ' ') AS ws,
           {_BENCH_SQL} AS bench_slot
    FROM documents
),
grams AS (
    SELECT DISTINCT doc_id, bench_slot, g FROM (
        SELECT doc_id, bench_slot,
               unnest([{sql_md5_hash48(
                   "array_to_string(ws[i:i+" + str(DECONTAM_N - 1) + "], ' ')")}
                       FOR i IN generate_series(1, len(ws) - {DECONTAM_N - 1})]) AS g
        FROM base WHERE len(ws) >= {DECONTAM_N}
    )
),
pairs AS (
    SELECT b.doc_id AS bench_doc_id, t.doc_id AS train_doc_id,
           COUNT(*) AS shared_grams
    FROM grams b JOIN grams t USING (g)
    WHERE b.bench_slot = 0 AND t.bench_slot <> 0
    GROUP BY 1, 2
),
best AS (
    SELECT bench_doc_id,
           COUNT(*) AS n_contaminating_docs,
           MAX(shared_grams) AS max_shared_grams
    FROM pairs GROUP BY 1
),
worst AS (
    SELECT bench_doc_id, train_doc_id AS worst_doc_id FROM (
        SELECT bench_doc_id, train_doc_id,
               ROW_NUMBER() OVER (PARTITION BY bench_doc_id
                                  ORDER BY shared_grams DESC,
                                           train_doc_id ASC) AS rk
        FROM pairs
    ) WHERE rk = 1
)
SELECT bb.doc_id AS bench_doc_id,
       CAST(COALESCE(b.n_contaminating_docs, 0) AS BIGINT)
           AS n_contaminating_docs,
       CAST(COALESCE(b.max_shared_grams, 0) AS BIGINT) AS max_shared_grams,
       COALESCE(w.worst_doc_id, -1) AS worst_doc_id
FROM (SELECT doc_id FROM base WHERE bench_slot = 0) bb
LEFT JOIN best b ON b.bench_doc_id = bb.doc_id
LEFT JOIN worst w ON w.bench_doc_id = bb.doc_id
""",
    doc="per-benchmark-item contamination exposure: count of corpus docs "
    "sharing a 4-gram, max per-doc shared-gram count, deterministic worst "
    "offender — the eval-side audit decontam_ngram_overlap doesn't give",
    tags=("pipeline", "filtering", "decontam"),
)
def decontam_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.split("text", " ").alias("ws"),
        (spark_salted_hash("doc_id", ":bench") % BENCH_MOD).alias("bench_slot"),
    )
    gram_arr = F.transform(
        F.sequence(F.lit(1), F.size("ws") - F.lit(DECONTAM_N - 1)),
        lambda i: spark_md5_hash48(
            F.concat_ws(" ", F.slice("ws", i, F.lit(DECONTAM_N)))
        ),
    )
    grams = (
        base.filter(F.size("ws") >= DECONTAM_N)
        .select("doc_id", "bench_slot", F.explode(gram_arr).alias("g"))
        .distinct()
        .persist()
    )
    grams.count()  # both join sides derive from this frame (convention)
    bench_g = grams.filter(F.col("bench_slot") == 0).select(
        F.col("doc_id").alias("bench_doc_id"), "g"
    )
    train_g = grams.filter(F.col("bench_slot") != 0).select(
        F.col("doc_id").alias("train_doc_id"), "g"
    )
    # no broadcast hint: the bench side here is a HASH SLICE of the corpus
    # (1/BENCH_MOD — SF-proportional), unlike decontam_ngram_overlap's
    # fixed benchmark list; a hinted broadcast would pass bench scale and
    # die at 100 TB. AQE still broadcasts it at test SFs where it fits.
    pairs = (
        train_g.join(bench_g, "g")
        .groupBy("bench_doc_id", "train_doc_id")
        .agg(F.count("*").alias("shared_grams"))
    )
    pairs = pairs.persist()
    pairs.count()
    best = pairs.groupBy("bench_doc_id").agg(
        F.count("*").alias("n_contaminating_docs"),
        F.max("shared_grams").alias("max_shared_grams"),
    )
    from pyspark.sql import Window

    rk = Window.partitionBy("bench_doc_id").orderBy(
        F.col("shared_grams").desc(), F.col("train_doc_id").asc()
    )
    worst = (
        pairs.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") == 1)
        .select("bench_doc_id", F.col("train_doc_id").alias("worst_doc_id"))
    )
    bench_docs = base.filter(F.col("bench_slot") == 0).select(
        F.col("doc_id").alias("bench_doc_id")
    )
    out = (
        bench_docs.join(best, "bench_doc_id", "left")
        .join(worst, "bench_doc_id", "left")
        .select(
            "bench_doc_id",
            F.coalesce("n_contaminating_docs", F.lit(0))
            .cast("long")
            .alias("n_contaminating_docs"),
            F.coalesce("max_shared_grams", F.lit(0))
            .cast("long")
            .alias("max_shared_grams"),
            F.coalesce("worst_doc_id", F.lit(-1)).alias("worst_doc_id"),
        )
    )
    out = out.persist()
    out.count()
    pairs.unpersist()
    grams.unpersist()
    return out


# --- filter bias audit (four-fifths rule across languages) --------------------------
# Responsible-data check for the composed quality pipeline: does the
# filter keep some languages at a disproportionate rate? Per-language
# keep rates vs the overall rate, with the employment-law "four-fifths"
# disparity flag (rate outside [0.8, 1.25] x overall). Rates are
# integer-ratio doubles (deterministic), so the threshold comparisons
# are engine-identical; the audit is ONE composition over the already-
# verified survivors query plus a per-language count of the corpus —
# its scale story is the survivor pipeline's.


@register(
    "filtering_bias_audit",
    oracle=f"""
WITH surv AS ({{surv}}),
per_lang AS (
  SELECT d.lang,
         COUNT(*) AS n_docs,
         CAST(SUM(CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
  FROM documents d LEFT JOIN surv s ON d.doc_id = s.doc_id
  GROUP BY d.lang
), tot AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS nd, CAST(SUM(n_kept) AS BIGINT) AS nk
  FROM per_lang
)
SELECT p.lang, p.n_docs, p.n_kept,
       CAST(p.n_kept AS DOUBLE) / CAST(p.n_docs AS DOUBLE) AS keep_rate,
       (CAST(p.n_kept AS DOUBLE) / CAST(p.n_docs AS DOUBLE))
         / (CAST(t.nk AS DOUBLE) / CAST(t.nd AS DOUBLE)) AS disparity,
       CASE WHEN (CAST(p.n_kept AS DOUBLE) / CAST(p.n_docs AS DOUBLE))
                   / (CAST(t.nk AS DOUBLE) / CAST(t.nd AS DOUBLE)) < 0.8
              OR (CAST(p.n_kept AS DOUBLE) / CAST(p.n_docs AS DOUBLE))
                   / (CAST(t.nk AS DOUBLE) / CAST(t.nd AS DOUBLE)) > 1.25
            THEN 1 ELSE 0 END AS four_fifths_flag
FROM per_lang p CROSS JOIN tot t
""".format(surv=_REGISTRY["pipeline_corpus_survivors"].oracle),
    doc="four-fifths-rule bias audit of the composed quality filter: "
    "per-language keep rates vs overall with disparity flags — one "
    "composition over the verified survivor pipeline, deterministic "
    "integer-ratio rates",
    tags=("pipeline", "filtering", "audit", "compose"),
)
def filtering_bias_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    surv = pipeline_corpus_survivors(spark, sf_dir).select(
        "doc_id", F.lit(1).alias("kept")
    )
    per_lang = (
        d.join(surv, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.coalesce(F.col("kept"), F.lit(0))).cast("long").alias("n_kept"),
        )
    )
    tot = per_lang.agg(
        F.sum("n_docs").cast("long").alias("nd"),
        F.sum("n_kept").cast("long").alias("nk"),
    )
    rate = F.col("n_kept").cast("double") / F.col("n_docs").cast("double")
    overall = F.col("nk").cast("double") / F.col("nd").cast("double")
    disparity = rate / overall
    return per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_kept",
        rate.alias("keep_rate"),
        disparity.alias("disparity"),
        F.when((disparity < 0.8) | (disparity > 1.25), 1)
        .otherwise(0)
        .alias("four_fifths_flag"),
    )
