"""Property-based tests (hypothesis) for the driver-side pure functions:
guardrail safety invariants and name normalizers."""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from f1_lakehouse_spark.copilot.guardrails import (
    GuardrailError,
    extract_sql,
    validate_select_only,
    wrap_limit,
)
from f1_lakehouse_spark.functions.expressions import snake_case

DENY = ("insert", "update", "delete", "drop", "alter", "create", "truncate")


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=200), st.sampled_from(DENY))
def test_guardrail_never_passes_denied_keyword(spark, suffix, kw):
    """No second, mutating statement after a query ever validates."""
    sql = f"SELECT * FROM t WHERE x = 1; {kw.upper()} TABLE t {suffix}"
    with pytest.raises(GuardrailError):
        validate_select_only(spark, sql)


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=300))
def test_guardrail_output_always_select_and_single_statement(spark, text):
    """Whatever survives validation starts with SELECT/WITH and parses as
    one statement (validating it again returns it unchanged)."""
    try:
        out = validate_select_only(spark, text)
    except GuardrailError:
        return
    assert re.match(r"(?is)^(select|with)\b", out)
    assert validate_select_only(spark, out) == out


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet=st.characters(blacklist_characters="`"), max_size=120))
def test_extract_sql_fenced_roundtrip(sql):
    """Fencing any ;-free text and extracting returns the stripped text."""
    fenced = f"prefix\n```sql\n{sql}\n```\nsuffix"
    assert extract_sql(fenced) == sql.strip().rstrip(";").strip()


@settings(max_examples=100, deadline=None)
@given(st.integers(min_value=1, max_value=10**6))
def test_wrap_limit_always_caps(n):
    out = wrap_limit("SELECT 1", n)
    assert out.endswith(f"LIMIT {n}")
    assert out.startswith("SELECT * FROM (")


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=80))
def test_snake_case_idempotent_and_clean(name):
    s = snake_case(name)
    assert snake_case(s) == s  # idempotent
    assert re.fullmatch(r"[a-z0-9_]*", s)  # clean charset
    assert not s.startswith("_") and not s.endswith("_")


# --- multimodal geometry / feature invariants ---------------------------------


@given(st.integers(min_value=0, max_value=4096), st.integers(min_value=0, max_value=4096))
def test_resize_dims_fit_and_preserve_aspect(w, h):
    from f1_lakehouse_spark.pipeline.multimodal import RESIZE_TARGET, fake_resize_dims

    ow, oh = fake_resize_dims(w, h)
    assert 0 <= ow <= RESIZE_TARGET and 0 <= oh <= RESIZE_TARGET
    # the longest input edge maps to (almost exactly) the target edge
    if max(w, h) > 0:
        assert max(ow, oh) == RESIZE_TARGET * max(w, h) // max(w, h, 1)
    # aspect never flips
    assert (w >= h) == (ow >= oh) or w == h


@given(st.binary(max_size=500))
def test_fake_features_bounded_and_deterministic(payload):
    from f1_lakehouse_spark.pipeline.multimodal import FEAT_DIM, fake_features

    f1 = fake_features(payload)
    assert f1 == fake_features(payload)
    assert len(f1) == FEAT_DIM
    assert all(0.0 <= v < 1.0 for v in f1)


# --- PII scrubber: the redacted output never matches the detectors ------------


@given(st.text(max_size=200), st.integers(min_value=0, max_value=10**6))
def test_pii_redaction_is_complete(text, n):
    import re

    from f1_lakehouse_spark.pipeline.filtering import _EMAIL_RE, _PHONE_RE

    seeded = f"{text} contact user{n}@example.com call 555-{n % 10000:04d}"
    redacted = re.sub(_PHONE_RE, "<PHONE>", re.sub(_EMAIL_RE, "<EMAIL>", seeded))
    assert not re.search(_EMAIL_RE, redacted)
    assert not re.search(_PHONE_RE, redacted)


def test_chunk_udtf_matches_jvm_chunker(spark):
    """The Python UDTF (slow path, checklist) must emit exactly the rows the
    native sequence+substring chunker (production path) emits."""
    from pyspark.sql import functions as F

    from f1_lakehouse_spark.functions.expressions import make_chunk_udtf
    from f1_lakehouse_spark.pipeline.multimodal import (
        CHUNK_LEN,
        CHUNK_STRIDE,
        mm_audio_chunks,
    )
    from tests.conftest import SF_DIR

    ChunkUDTF = make_chunk_udtf(CHUNK_LEN, CHUNK_STRIDE)
    spark.udtf.register("chunk_udtf", ChunkUDTF)
    from f1_lakehouse_spark.tables import load_table

    load_table(spark, SF_DIR, "documents").createOrReplaceTempView("docs_udtf")
    via_udtf = spark.sql(
        "SELECT d.doc_id, c.start_off, c.chunk "
        "FROM docs_udtf d, LATERAL chunk_udtf(d.text) c"
    )
    native = mm_audio_chunks(spark, SF_DIR).select("doc_id", "start_off")
    got = {(r["doc_id"], r["start_off"]) for r in via_udtf.collect()}
    want = {(r["doc_id"], r["start_off"]) for r in native.collect()}
    assert got == want and len(got) > 0


def test_hash_derived_ops_reproducible_across_executions(spark):
    """The reproducibility contract of the curation/incremental family:
    two independent executions (fresh plans, parallel task scheduling and
    shuffle ordering included) must produce IDENTICAL rows — the property
    that makes shards/splits/dup-pairs stable across runs. Holds because
    every assignment is a pure hash of the row key and every window/top-k
    carries a total order."""
    from f1_lakehouse_spark.registry import REGISTRY, _ensure_loaded
    from tests.conftest import SF_DIR

    _ensure_loaded()
    for name in (
        "curation_global_shuffle_shard",
        "curation_priority_sample",
        "curation_train_val_test_split",
        "dedup_incremental_minhash",
    ):
        base = {tuple(r) for r in REGISTRY[name].fn(spark, SF_DIR).collect()}
        again = {tuple(r) for r in REGISTRY[name].fn(spark, SF_DIR).collect()}
        assert base == again and len(base) > 0, name


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=10**9),
        min_size=1,
        max_size=200,
    ),
    st.integers(min_value=1, max_value=16),
)
def test_global_prefix_sum_equals_sequential_cumsum(spark, values, n_parts):
    """The two-phase distributed prefix sum must equal the sequential
    cumulative sum for any value multiset and any partition count —
    range boundaries come from sampling, so this pins boundary-placement
    independence."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from f1_lakehouse_spark.operators.extensions import global_prefix_sum

    rows = [(i, Decimal(v)) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "id long, v decimal(27,6)")
    cum, release, total = global_prefix_sum(
        spark, df, "v", [F.col("v").asc(), F.col("id").asc()], n_parts=n_parts
    )
    assert total == sum(Decimal(v) for v in values)
    got = {
        r["id"]: r["cum"]
        for r in cum.select("id", "cum").collect()
    }
    release()
    order = sorted(range(len(values)), key=lambda i: (values[i], i))
    acc = Decimal(0)
    for i in order:
        acc += Decimal(values[i])
        assert got[i] == acc, (i, got[i], acc)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(10**9), max_value=10**9),
        min_size=1,
        max_size=200,
    ),
    st.integers(min_value=1, max_value=16),
)
def test_global_prefix_max_equals_sequential(spark, values, n_parts):
    """The two-phase distributed EXCLUSIVE running max must equal the
    sequential computation for any multiset and any partition count —
    pins boundary-placement independence (max is associative/commutative)
    and the NULL-for-first-row contract."""
    from pyspark.sql import functions as F

    from f1_lakehouse_spark.operators.extensions import global_prefix_max

    rows = [(i, v) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "id long, v long")
    out, release = global_prefix_max(
        spark, df, "v", [F.col("id").asc()], n_parts=n_parts
    )
    got = {r["id"]: r["excl_max"] for r in out.select("id", "excl_max").collect()}
    release()
    run = None
    for i, v in enumerate(values):
        assert got[i] == run, (i, got[i], run)
        run = v if run is None or v > run else run


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            # group (skew-prone: few keys; None is a legal group — the
            # struct-surrogate join must not drop it like a raw equi-join)
            st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
            st.integers(min_value=0, max_value=50),  # value (ties likely)
        ),
        min_size=1,
        max_size=200,
    ),
    st.integers(min_value=1, max_value=16),
    st.integers(min_value=2, max_value=5),
)
def test_grouped_prefix_rank_equals_window_semantics(spark, pairs, n_parts, k):
    """The grouped distributed rank (range repartition over
    (group, order) + pid windows + driver offsets) must equal sequential
    per-group ROW_NUMBER for any multiset, any partition count — pins
    boundary-placement independence when a group spans several ranges —
    and the closed-form column NTILE formula must equal SQL NTILE(k)
    including n_g < k, remainder groups, and a NULL group key."""
    from pyspark.sql import functions as F

    from f1_lakehouse_spark.operators.extensions import (
        _ntile_from_rank_cols,
        grouped_prefix_rank,
    )

    rows = [(i, g, v) for i, (g, v) in enumerate(pairs)]
    df = spark.createDataFrame(rows, "id long, g int, v int")
    ranked, release = grouped_prefix_rank(
        spark, df, ["g"], [F.col("v").asc(), F.col("id").asc()], n_parts=n_parts
    )
    got = {
        r["id"]: (r["rank"], r["n_g"], r["bucket"])
        for r in ranked.select(
            "id",
            "rank",
            "n_g",
            _ntile_from_rank_cols(F.col("rank"), F.col("n_g"), k).alias("bucket"),
        ).collect()
    }
    release()
    by_group: dict[int, list] = {}
    for i, (g, v) in enumerate(pairs):
        by_group.setdefault(g, []).append((v, i))
    for g, members in by_group.items():
        members.sort()
        n = len(members)
        # independent NTILE reference built straight from the SQL
        # definition (first n%k buckets hold ceil(n/k) rows), NOT the
        # closed-form formula under test — a shared formula bug would
        # otherwise pass formula-vs-itself
        base, rem = divmod(n, k)
        assignment = [
            b for b in range(1, k + 1) for _ in range(base + (1 if b <= rem else 0))
        ]
        for rank0, (_, i) in enumerate(members):
            want = (rank0 + 1, n, assignment[rank0])
            assert got[i] == want, (g, i, got[i], want)
