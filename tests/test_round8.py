"""Round-8 operator properties beyond the differential gate.

- curriculum interleave: the schedule must be a BIJECTION onto 1..n (a
  round-robin that skips or double-books a position would still pass a
  per-row NTILE check), and within a decile positions must follow the
  difficulty order.
- BM25: third-implementation check — a pure-Python reference computed
  with math.log on pandas rows must reproduce the Spark/DuckDB-agreed
  top-k exactly (the differential gate proves Spark==DuckDB; this proves
  both equal the textbook formula, not a shared mis-derivation).
"""

from __future__ import annotations

import math
import os

from f1_lakehouse_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_curriculum_schedule_is_bijective_and_ordered(spark):
    from f1_lakehouse_spark.pipeline.curation import (
        CURRICULUM_K,
        curation_curriculum_interleave,
    )

    rows = curation_curriculum_interleave(spark, SF_DIR).collect()
    n = len(rows)
    assert n > 0
    # bijection onto 1..n
    assert sorted(r["schedule_pos"] for r in rows) == list(range(1, n + 1))
    # decile sizes follow the NTILE contract: first n%k deciles one larger
    sizes = {}
    for r in rows:
        sizes[r["decile"]] = sizes.get(r["decile"], 0) + 1
    q, rem = divmod(n, CURRICULUM_K)
    want = {d: q + 1 if d <= rem else q for d in range(1, CURRICULUM_K + 1)}
    assert sizes == {d: c for d, c in want.items() if c > 0}
    # within each decile, pos_in_decile follows (n_chars, doc_id) ascending
    for d in sizes:
        members = sorted(
            (r for r in rows if r["decile"] == d),
            key=lambda r: (r["n_chars"], r["doc_id"]),
        )
        assert [r["pos_in_decile"] for r in members] == list(
            range(1, len(members) + 1)
        )


def test_bm25_matches_pure_python_reference(spark):
    from f1_lakehouse_spark.pipeline.text import (
        BM25_B,
        BM25_K1,
        BM25_QUERY_TERMS,
        BM25_TOPK,
        text_bm25_retrieval,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    toks = {r["doc_id"]: r["text"].split(" ") for r in docs}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / float(n)
    df = {
        t: sum(1 for ws in toks.values() if t in ws) for t in BM25_QUERY_TERMS
    }
    scored = []
    for doc_id, ws in toks.items():
        s = 0.0
        for t in BM25_QUERY_TERMS:
            tf = ws.count(t)
            if tf == 0:
                continue
            idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            s += idf * (tf * (BM25_K1 + 1.0)) / (
                tf + BM25_K1 * (1.0 - BM25_B + BM25_B * len(ws) / avgdl)
            )
        if s > 0.0:
            scored.append((doc_id, s))
    scored.sort(key=lambda p: (-p[1], p[0]))
    want = [
        (doc_id, round(s, 9), i + 1)
        for i, (doc_id, s) in enumerate(scored[:BM25_TOPK])
    ]

    got = [
        (r["doc_id"], r["bm25"], r["rk"])
        for r in text_bm25_retrieval(spark, SF_DIR).collect()
    ]
    # float path differences (python sum order vs Spark's fixed pivot order)
    # stay far inside the 9-decimal round; compare exactly post-round
    assert [(d, rk) for d, _, rk in got] == [(d, rk) for d, _, rk in want]
    for (_, g, _), (_, w, _) in zip(got, want):
        assert abs(g - w) < 1e-8


# --- second r8 batch: third-implementation references --------------------------------


def test_zipf_alpha_matches_pure_python_ols(spark):
    from f1_lakehouse_spark.pipeline.text import ZIPF_TOPK, text_zipf_alpha

    docs = (
        load_table(spark, SF_DIR, "documents")
        .select("source", "text")
        .where("text IS NOT NULL")
        .collect()
    )
    cnts: dict[str, dict[str, int]] = {}
    for r in docs:
        bysrc = cnts.setdefault(r["source"], {})
        for w in r["text"].split(" "):
            bysrc[w] = bysrc.get(w, 0) + 1
    got = {r["source"]: r for r in text_zipf_alpha(spark, SF_DIR).collect()}
    assert set(got) == set(cnts)
    for src, bysrc in cnts.items():
        top = sorted(bysrc.items(), key=lambda kv: (-kv[1], kv[0]))[:ZIPF_TOPK]
        xs = [math.log(i + 1) for i in range(len(top))]
        ys = [math.log(c) for _, c in top]
        n = float(len(top))
        sx, sy = sum(xs), sum(ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        sxx = sum(x * x for x in xs)
        slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        assert got[src]["n_terms"] == len(top)
        assert abs(got[src]["alpha"] - (-slope)) < 1e-6
        # a natural rank-frequency curve decays: alpha > 0
        assert got[src]["alpha"] > 0


def test_psi_drift_terms_reconstruct_and_split_is_stable(spark):
    import hashlib

    from f1_lakehouse_spark.pipeline.scoring import (
        _PSI_BINS,
        scoring_hashed_linear_quality,
        scoring_psi_drift,
    )

    scores = scoring_hashed_linear_quality(spark, SF_DIR).select(
        "doc_id", "score_sum"
    ).collect()

    def grp(doc_id: int) -> int:
        h = hashlib.md5(f"{doc_id}:psi".encode()).hexdigest()
        return int(h[:12], 16) % 2

    vals = [(r["score_sum"], grp(r["doc_id"])) for r in scores]
    mn = min(v for v, _ in vals)
    mx = max(v for v, _ in vals)
    bins: dict[int, list[int]] = {}
    for v, g in vals:
        b = (v - mn) * _PSI_BINS // (mx - mn + 1)
        cell = bins.setdefault(b, [0, 0])
        cell[g] += 1
    nt_ref = sum(c[0] for c in bins.values())
    nt_cur = sum(c[1] for c in bins.values())
    rows = scoring_psi_drift(spark, SF_DIR).collect()
    assert {r["bin"] for r in rows} == set(bins)
    total = 0.0
    for r in rows:
        n_ref, n_cur = bins[r["bin"]]
        assert (r["n_ref"], r["n_cur"]) == (n_ref, n_cur)
        p_ref = (n_ref + 1) / (nt_ref + _PSI_BINS)
        p_cur = (n_cur + 1) / (nt_cur + _PSI_BINS)
        want = (p_cur - p_ref) * math.log(p_cur / p_ref)
        assert abs(r["psi_term"] - want) < 1e-6
        total += r["psi_term"]
    # an iid hash split has no real drift; at sf0.001 (~250 docs per
    # split) pure sampling noise contributes E[PSI] ~ 2*(B-1)/n ~ 0.07,
    # so the bound is the industry "no significant shift" line (0.1)
    # plus that small-sample allowance
    assert abs(total) < 0.2


def test_jl_projection_matches_numpy_and_concentrates(spark):
    import numpy as np

    from f1_lakehouse_spark.pipeline.similarity import (
        _JL_ROWS,
        JL_DIM,
        embedding_random_projection_jl,
    )

    rows = embedding_random_projection_jl(spark, SF_DIR).collect()
    assert rows
    # JL concentration: the mean norm-distortion sits near 1
    ds = [r["distortion"] for r in rows if r["distortion"] is not None]
    assert ds and 0.7 < sum(ds) / len(ds) < 1.3
    # one-vector numpy cross-check of the projection itself
    emb = {
        r["vec_id"]: r["embedding"]
        for r in load_table(spark, SF_DIR, "embeddings").limit(5).collect()
    }
    got = {r["vec_id"]: r for r in rows}
    s = np.array(_JL_ROWS)  # (JL_DIM, 64)
    for vid, vec in emb.items():
        x = np.array(vec, dtype=np.float64)
        y = s @ x
        assert abs(got[vid]["proj_norm2"] - float(y @ y) / JL_DIM) < 1e-6
        assert abs(got[vid]["orig_norm2"] - float(x @ x)) < 1e-6


def test_newsvendor_matches_python_order_statistic(spark):
    from f1_lakehouse_spark.operators.round8_stats import (
        orders_newsvendor_quantile,
    )

    o = load_table(spark, SF_DIR, "orders").select(
        "o_custkey", "o_totalprice", "o_orderkey"
    )
    c = load_table(spark, SF_DIR, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    j = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .select("n_name", "o_totalprice", "o_orderkey")
        .collect()
    )
    byn: dict[str, list[tuple[float, int]]] = {}
    for r in j:
        byn.setdefault(r["n_name"], []).append((r["o_totalprice"], r["o_orderkey"]))
    got = {r["n_name"]: r for r in orders_newsvendor_quantile(spark, SF_DIR).collect()}
    assert set(got) == set(byn)
    for name, vals in byn.items():
        vals.sort()
        k = (4 * len(vals) + 4) // 5  # ceil(0.8 n)
        assert got[name]["n_orders"] == len(vals)
        assert got[name]["newsvendor_price"] == vals[k - 1][0]


def test_price_elasticity_matches_pure_python_ols(spark):
    from decimal import ROUND_HALF_UP, Decimal

    from f1_lakehouse_spark.operators.round8_stats import (
        ELASTICITY_BUCKET_WIDTH,
        lineitem_price_elasticity,
    )

    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    ).collect()
    cells: dict[tuple[str, int], list] = {}
    for r in li:
        b = int(math.floor(r["l_extendedprice"] / ELASTICITY_BUCKET_WIDTH))
        cell = cells.setdefault((r["l_returnflag"], b), [0, Decimal(0), Decimal(0)])
        cell[0] += 1
        # mirror the engine casts: quantity at scale 3, price at scale 2.
        # Python's default str-format/quantize rounding is HALF_EVEN —
        # the engines round HALF_UP, so be explicit everywhere a .5 can
        # land (shortest-repr doubles of 2/3-decimal values quantize
        # exactly, but the final scale-0 rounding genuinely differs)
        cell[1] += Decimal(repr(r["l_quantity"])).quantize(
            Decimal("0.001"), rounding=ROUND_HALF_UP
        )
        cell[2] += Decimal(repr(r["l_extendedprice"])).quantize(
            Decimal("0.01"), rounding=ROUND_HALF_UP
        )
    byflag: dict[str, list[tuple[int, int, int, int]]] = {}
    for (flag, b), (cn, sq, sp) in cells.items():
        q0 = int(sq.quantize(Decimal(1), rounding=ROUND_HALF_UP))
        p0 = int(sp.quantize(Decimal(1), rounding=ROUND_HALF_UP))
        byflag.setdefault(flag, []).append((b, cn, q0, p0))
    got = {
        r["l_returnflag"]: r for r in lineitem_price_elasticity(spark, SF_DIR).collect()
    }
    assert set(got) == set(byflag)
    for flag, cs in byflag.items():
        cs.sort()
        xs = [math.log(p0 / cn) for _, cn, _, p0 in cs]
        ys = [math.log(q0 / cn) for _, cn, q0, _ in cs]
        k = float(len(cs))
        sx, sy = sum(xs), sum(ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        sxx = sum(x * x for x in xs)
        slope = (k * sxy - sx * sy) / (k * sxx - sx * sx)
        assert got[flag]["n_buckets"] == len(cs)
        assert got[flag]["n_lines"] == sum(cn for _, cn, _, _ in cs)
        assert abs(got[flag]["elasticity"] - slope) < 1e-6


def test_bass_diffusion_matches_numpy_normal_equations(spark):
    import numpy as np

    from f1_lakehouse_spark.operators.round8_stats import orders_bass_diffusion

    o = load_table(spark, SF_DIR, "orders").select(
        "o_custkey", "o_orderdate"
    ).collect()
    first: dict[int, object] = {}
    for r in o:
        d = r["o_orderdate"]
        if r["o_custkey"] not in first or d < first[r["o_custkey"]]:
            first[r["o_custkey"]] = d
    monthly: dict[int, int] = {}
    for d in first.values():
        m = (d.year - 1995) * 12 + d.month - 1
        monthly[m] = monthly.get(m, 0) + 1
    ms = sorted(monthly)
    cnts = [monthly[m] for m in ms]
    ys, x1s = [], []
    cum = 0
    for i in range(1, len(cnts)):
        cum += cnts[i - 1]
        ys.append(float(cnts[i]))
        x1s.append(float(cum))
    x = np.column_stack([np.ones(len(x1s)), x1s, np.square(x1s)])
    y = np.array(ys)
    coef = np.linalg.solve(x.T @ x, x.T @ y)
    row = orders_bass_diffusion(spark, SF_DIR).collect()[0]
    assert row["n_months"] == len(ms)
    assert abs(row["a"] - coef[0]) / max(1.0, abs(coef[0])) < 1e-6
    assert abs(row["b"] - coef[1]) / max(1e-3, abs(coef[1])) < 1e-4
    assert abs(row["c"] - coef[2]) / max(1e-6, abs(coef[2])) < 1e-4
    # root/recovery consistency: a + b*M + c*M^2 = 0 at the emitted M
    if row["m_total"] is not None:
        res = row["a"] + row["b"] * row["m_total"] + row["c"] * row["m_total"] ** 2
        assert abs(res) < 1e-3 * max(1.0, abs(row["a"]))


def test_youden_j_matches_python_threshold_sweep(spark):
    from f1_lakehouse_spark.pipeline.filtering import quality_gopher_repetition
    from f1_lakehouse_spark.pipeline.scoring import (
        scoring_hashed_linear_quality,
        scoring_youden_j_threshold,
    )

    s = {
        r["doc_id"]: r["score_sum"]
        for r in scoring_hashed_linear_quality(spark, SF_DIR).collect()
    }
    y = {
        r["doc_id"]: int(r["passes_repetition"])
        for r in quality_gopher_repetition(spark, SF_DIR).collect()
    }
    pairs = [(s[d], y[d]) for d in s if d in y]
    p = sum(v for _, v in pairs)
    nn = len(pairs) - p
    best = None
    for t in sorted({sc for sc, _ in pairs}):
        tp = sum(1 for sc, v in pairs if sc >= t and v == 1)
        fp = sum(1 for sc, v in pairs if sc >= t and v == 0)
        # the exact integer statistic the operator maximizes
        stat = tp * nn - fp * p
        key = (stat, -t)  # max stat, then LOWEST threshold (sc ASC tiebreak)
        if best is None or key > best[0]:
            best = (key, t, tp, fp)
    _, t_star, tp, fp = best
    row = scoring_youden_j_threshold(spark, SF_DIR).collect()[0]
    assert row["threshold"] == t_star
    assert (row["tp"], row["fp"]) == (tp, fp)
    assert (row["fn"], row["tn"]) == (p - tp, nn - fp)
    assert abs(row["youden_j"] - (tp / p - fp / nn)) < 1e-6


def test_range_interval_frame_matches_python_rolling(spark):
    from f1_lakehouse_spark.operators.round8_stats import w_range_interval_frame

    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    ).collect()
    from datetime import date

    epoch = date(1970, 1, 1)
    by_cust: dict[int, list] = {}
    for r in orders:
        d = (r["o_orderdate"].date() - epoch).days
        by_cust.setdefault(r["o_custkey"], []).append(
            (d, r["o_orderkey"], r["o_totalprice"])
        )
    got = {
        r["o_orderkey"]: r for r in w_range_interval_frame(spark, SF_DIR).collect()
    }
    assert len(got) == len(orders)
    for cust, rows in by_cust.items():
        for d, okey, _ in rows:
            window = [(dd, pp) for dd, _, pp in rows if d - 27 <= dd <= d]
            assert got[okey]["rolling_n"] == len(window)
            want = sum(round(pp * 100) for _, pp in window) / 100.0
            assert abs(got[okey]["rolling_spend"] - want) < 1e-6


def test_shared_frame_caches_hit_and_roll_over(spark):
    """The r8 shared-frame caches must return the SAME persisted frame on
    repeat calls (cache hit — the whole point) and roll over to a single
    entry when the input dir changes (no session-lifetime storage leak)."""
    from f1_lakehouse_spark.pipeline import dedup as D
    from f1_lakehouse_spark.pipeline import scoring as S

    a = S.hashed_score_frame(spark, SF_DIR)
    assert S.hashed_score_frame(spark, SF_DIR) is a
    # the key is the resolved input, not the spelling of its path
    assert S.hashed_score_frame(spark, os.path.relpath(SF_DIR)) is a
    b = D.shingle_keys_frame(spark, SF_DIR)
    assert D.shingle_keys_frame(spark, SF_DIR) is b
    c = D.dedup_minhash_lsh(spark, SF_DIR)
    assert D.dedup_minhash_lsh(spark, SF_DIR) is c
    # consumers must not turn the shared entry cold: connected_components
    # once unpersisted the borrowed cached pair frame in its finally block
    D.dedup_clusters(spark, SF_DIR).count()
    assert c.is_cached, "a consumer unpersisted the shared cache entry"
    # roll-over: a different input evicts the old entry (single-entry cache)
    other = "/root/testdata/sf0.01"
    d2 = S.hashed_score_frame(spark, other)
    assert d2 is not a
    assert len(S.hashed_score_frame.entries) == 1
    # the evicted frame is unpersisted (storage released)
    assert not a.is_cached
    # restore the sf0.001 entry so later tests in this session start clean
    S.hashed_score_frame(spark, SF_DIR)


def test_shared_caches_follow_input_rewrite(spark, tmp_path):
    """The load_table memo and the shared-frame caches are keyed on the
    input's file fingerprint: rewriting documents.parquet in place (same
    path, same session) must serve frames built from the NEW bytes and
    release the stale persisted ones, never a count of the old file."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from f1_lakehouse_spark.pipeline import dedup as D
    from f1_lakehouse_spark.pipeline import scoring as S
    from f1_lakehouse_spark.pipeline.dedup import _spark_shingle_keys

    src = os.path.join(SF_DIR, "documents.parquet")
    dst = str(tmp_path / "documents.parquet")
    shutil.copyfile(src, dst)
    d = str(tmp_path)
    stale = load_table(spark, d, "documents")
    assert stale.count() == 500
    score = S.hashed_score_frame(spark, d)
    shk = D.shingle_keys_frame(spark, d)
    n_shk = shk.count()

    tbl = pq.read_table(src)
    pq.write_table(tbl.filter(pc.equal(pc.bit_wise_and(tbl["doc_id"], 1), 0)), dst)
    truth = spark.read.parquet(dst)
    want = truth.count()
    assert 0 < want < 500

    reread = load_table(spark, d, "documents")
    assert reread is not stale and reread.count() == want
    assert S.hashed_score_frame(spark, d).count() == truth.where("text IS NOT NULL").count()
    fresh = D.shingle_keys_frame(spark, d)
    assert fresh.count() == _spark_shingle_keys(truth).count() < n_shk
    # the frames built from the old bytes were released, not leaked
    assert not score.is_cached and not shk.is_cached
    assert fresh.is_cached

    # restore the sf0.001 entries so later tests in this session start warm
    S.hashed_score_frame(spark, SF_DIR)
    D.shingle_keys_frame(spark, SF_DIR)
    assert not fresh.is_cached


def test_hill_tail_index_matches_python_reference(spark):
    from f1_lakehouse_spark.operators.round8_stats import (
        HILL_K,
        events_hill_tail_index,
    )

    vals = [
        (r["value"], r["event_id"])
        for r in load_table(spark, SF_DIR, "events")
        .where("event_type = 'purchase' AND value > 0")
        .select("value", "event_id")
        .collect()
    ]
    vals.sort(key=lambda p: (-p[0], p[1]))
    top = [v for v, _ in vals[: HILL_K + 1]]
    rows = events_hill_tail_index(spark, SF_DIR).collect()
    if len(top) < HILL_K + 1:
        assert rows == []
        return
    xk1 = top[HILL_K]
    lnsum = sum(math.log(x / xk1) for x in top[:HILL_K])
    row = rows[0]
    assert row["x_threshold"] == xk1
    assert abs(row["sum_log_excess"] - lnsum) < 1e-6
    assert abs(row["hill_alpha"] - HILL_K / lnsum) < 1e-6


def test_bm25_ndcg_matches_python_reference(spark):
    from f1_lakehouse_spark.pipeline.filtering import quality_gopher_repetition
    from f1_lakehouse_spark.pipeline.text import (
        text_bm25_ndcg_eval,
        text_bm25_retrieval,
    )

    ranked = {
        r["rk"]: r["doc_id"] for r in text_bm25_retrieval(spark, SF_DIR).collect()
    }
    rel = {
        r["doc_id"]: int(r["passes_repetition"] or 0)
        for r in quality_gopher_repetition(spark, SF_DIR).collect()
    }
    n_rel_total = sum(rel.values())
    dcg = sum(rel.get(ranked[rk], 0) / math.log2(rk + 1) for rk in sorted(ranked))
    idcg = sum(
        1.0 / math.log2(i + 1)
        for i in range(1, min(len(ranked), n_rel_total) + 1)
    )
    row = text_bm25_ndcg_eval(spark, SF_DIR).collect()[0]
    assert row["n_retrieved"] == len(ranked)
    assert row["n_rel_total"] == n_rel_total
    assert abs(row["dcg"] - dcg) < 1e-6
    assert abs(row["idcg"] - idcg) < 1e-6
    assert abs(row["ndcg"] - dcg / idcg) < 1e-6
    assert 0.0 <= row["ndcg"] <= 1.0


def test_platt_scaling_matches_python_newton(spark):
    from f1_lakehouse_spark.pipeline.filtering import quality_gopher_repetition
    from f1_lakehouse_spark.pipeline.scoring import (
        _ISO_BINS,
        _PLATT_ITERS,
        _PLATT_RIDGE,
        scoring_hashed_linear_quality,
        scoring_platt_scaling,
    )

    s = {
        r["doc_id"]: r["score_sum"]
        for r in scoring_hashed_linear_quality(spark, SF_DIR).collect()
    }
    y = {
        r["doc_id"]: int(r["passes_repetition"])
        for r in quality_gopher_repetition(spark, SF_DIR).collect()
    }
    pairs = [(s[d], y[d]) for d in s if d in y]
    mn, mx = min(p for p, _ in pairs), max(p for p, _ in pairs)
    bins: dict[int, list[int]] = {}
    for sc, lbl in pairs:
        b = (sc - mn) * _ISO_BINS // (mx - mn + 1)
        cell = bins.setdefault(b, [0, 0])
        cell[0] += 1
        cell[1] += lbl
    pts = [
        ((b + 0.5) / _ISO_BINS, float(pos), float(n - pos))
        for b, (n, pos) in sorted(bins.items())
    ]
    n_pos = sum(int(p) for _, p, _ in pts)
    n_neg = sum(int(q) for _, _, q in pts)
    tpos = (n_pos + 1.0) / (n_pos + 2.0)
    tneg = 1.0 / (n_neg + 2.0)
    a_c, b_c = 0.0, math.log((n_pos + 1.0) / (n_neg + 1.0))
    for _ in range(_PLATT_ITERS):
        g1 = g2 = h11 = h12 = h22 = 0.0
        for x, npb, nnb in pts:
            p = 1.0 / (1.0 + math.exp(-(a_c * x + b_c)))
            d = npb * (p - tpos) + nnb * (p - tneg)
            w = (npb + nnb) * p * (1.0 - p)
            g1 += x * d
            g2 += d
            h11 += x * x * w
            h12 += x * w
            h22 += w
        h11 += _PLATT_RIDGE
        h22 += _PLATT_RIDGE
        det = h11 * h22 - h12 * h12
        a_c, b_c = a_c - (h22 * g1 - h12 * g2) / det, b_c - (
            h11 * g2 - h12 * g1
        ) / det
    row = scoring_platt_scaling(spark, SF_DIR).collect()[0]
    assert (row["n_pos"], row["n_neg"]) == (n_pos, n_neg)
    assert abs(row["a_coef"] - a_c) < 1e-6
    assert abs(row["b_coef"] - b_c) < 1e-6
    p_mid = 1.0 / (1.0 + math.exp(-(a_c * 0.5 + b_c)))
    assert abs(row["p_mid"] - p_mid) < 1e-6
    # a well-posed fit: mid-score probability is a genuine probability
    assert 0.0 < row["p_mid"] < 1.0


def test_lang_id_macro_f1_matches_python_reference(spark):
    from f1_lakehouse_spark.pipeline.text import (
        text_lang_id_confusion,
        text_lang_id_macro_f1,
    )

    conf = text_lang_id_confusion(spark, SF_DIR).collect()
    tp: dict[str, int] = {}
    support: dict[str, int] = {}
    pred_n: dict[str, int] = {}
    for r in conf:
        support[r["lang"]] = support.get(r["lang"], 0) + r["n_docs"]
        pred_n[r["predicted_lang"]] = pred_n.get(r["predicted_lang"], 0) + r["n_docs"]
        if r["lang"] == r["predicted_lang"]:
            tp[r["lang"]] = tp.get(r["lang"], 0) + r["n_docs"]
    f1s = {}
    for lang in support:
        p = tp.get(lang, 0) / pred_n[lang] if pred_n.get(lang) else 0.0
        rcl = tp.get(lang, 0) / support[lang]
        f1s[lang] = 2 * p * rcl / (p + rcl) if p + rcl > 0 else 0.0
    macro = sum(f1s.values()) / len(f1s)
    rows = {r["lang"]: r for r in text_lang_id_macro_f1(spark, SF_DIR).collect()}
    assert set(rows) == set(support)
    for lang, r in rows.items():
        assert r["support"] == support[lang]
        assert r["tp"] == tp.get(lang, 0)
        assert abs(r["f1"] - f1s[lang]) < 1e-6
        assert abs(r["macro_f1"] - macro) < 1e-6


def test_weibull_fit_matches_python_reference(spark):
    from f1_lakehouse_spark.operators.round8_stats import (
        orders_weibull_quantile_fit,
    )

    o = {
        r["o_orderkey"]: r["o_orderdate"]
        for r in load_table(spark, SF_DIR, "orders").collect()
    }
    ship: dict[int, object] = {}
    for r in load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_shipdate"
    ).collect():
        k = r["l_orderkey"]
        if k not in ship or r["l_shipdate"] > ship[k]:
            ship[k] = r["l_shipdate"]
    durs = sorted(
        (ship[k].date() - o[k].date()).days + 1 for k in ship if k in o
    )
    n = len(durs)

    def q(kth):  # kth = 1-based target rank, percentile_disc semantics
        return durs[kth - 1]

    x25, x50, x75 = q((n + 3) // 4), q((n + 1) // 2), q((3 * n + 3) // 4)
    row = orders_weibull_quantile_fit(spark, SF_DIR).collect()[0]
    assert row["n_orders"] == n
    assert (row["q25_days"], row["q50_days"], row["q75_days"]) == (x25, x50, x75)
    if x75 > x25 > 0:
        k = (math.log(-math.log(0.25)) - math.log(-math.log(0.75))) / (
            math.log(x75) - math.log(x25)
        )
        lam = x50 / math.exp(math.log(math.log(2.0)) / k)
        assert abs(row["weibull_k"] - k) < 1e-6
        assert abs(row["weibull_lambda"] - lam) < 1e-6
        # a shape estimate from genuine durations is positive
        assert row["weibull_k"] > 0
