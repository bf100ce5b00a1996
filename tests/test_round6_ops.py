"""Round-6 additions: semantic properties of the new operators and the
bloom-join size-guard fallback. Cross-engine value parity is the driver's
(and tools/run_parity.py's) job; these pin the properties the oracle
comparison can't see."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _queries():
    from pyspark_excel_datasource_spark.plans.registry import load_all_queries

    return load_all_queries()


# ---------------------------------------------------------------------------
# bloom_semi_join size guard
# ---------------------------------------------------------------------------


def test_bloom_semi_join_shuffle_fallback_same_result(spark):
    """With broadcast_max_rows=0 the exact semi join must NOT broadcast —
    and must return exactly the same rows as the broadcast path."""
    from pyspark_excel_datasource_spark.catalog import table
    from pyspark_excel_datasource_spark.operators.scale import bloom_semi_join

    orders = table(spark, SF, "orders")
    dim = (
        table(spark, SF, "customer")
        .filter(F.col("c_acctbal") > 7000)
        .select("c_custkey")
    )
    bc = bloom_semi_join(orders, dim, "o_custkey", "c_custkey")
    expected = sorted(r.o_orderkey for r in bc.select("o_orderkey").collect())
    # the guard only withholds the HINT; on fixture-sized dims Catalyst
    # still auto-broadcasts, so disable that to surface the shuffle path
    # a too-big dim would take at scale
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        sh = bloom_semi_join(
            orders, dim, "o_custkey", "c_custkey", broadcast_max_rows=0
        )
        plan = _plan(sh)
        semi_lines = [ln for ln in plan.splitlines() if "LeftSemi" in ln]
        assert semi_lines, "no semi join in the fallback plan"
        assert not any("Broadcast" in ln for ln in semi_lines), semi_lines
        got = sorted(r.o_orderkey for r in sh.select("o_orderkey").collect())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert got == expected


def test_bloom_literal_memo_keeps_alternating_arrays(spark):
    """Two bloom word arrays used in turn (A, B, A, B) must both stay
    memoized: the second A and B calls reuse the Column built by the
    first ones instead of paying the literal build again."""
    from pyspark_excel_datasource_spark.operators import scale

    fact = spark.range(10).withColumnRenamed("id", "k")
    dim = spark.range(5).withColumnRenamed("id", "d")
    app_id = spark.sparkContext.applicationId
    arrays = {name: [bit] * scale._BLOOM_WORDS for name, bit in (("A", 1), ("B", 2))}
    built = {}
    for name in ("A", "B", "A", "B"):
        arr = arrays[name]
        scale.bloom_semi_join(fact, dim, "k", "d", prebuilt=(arr, 5))
        col = scale._BLOOM_COLUMN_MEMO[(app_id, tuple(arr))]
        assert built.setdefault(name, col) is col, name


# ---------------------------------------------------------------------------
# new operator semantics
# ---------------------------------------------------------------------------


def test_rate_limit_cap_holds(spark):
    from pyspark_excel_datasource_spark.streaming.windows import _RATE_MAX

    out = _queries()["q_stream_rate_limit"](spark, SF)
    worst = (
        out.groupBy("user_id", F.window("ts", "10 minutes"))
        .agg(F.count("*").alias("n"))
        .agg(F.max("n").alias("m"))
        .first()["m"]
    )
    assert worst <= _RATE_MAX


def test_resample_grid_is_dense(spark):
    out = _queries()["q_resample_timeseries"](spark, SF).cache()
    n_buckets = out.select("bucket").distinct().count()
    n_types = out.select("event_type").distinct().count()
    assert out.count() == n_buckets * n_types
    # gap-filling actually fired: some buckets are empty for some type
    assert out.filter(F.col("n") == 0).count() > 0


def test_quantile_bins_are_balanced(spark):
    rows = _queries()["q_quantile_bins"](spark, SF).collect()
    assert sorted(r.bin for r in rows) == list(range(1, 11))
    counts = [r.n for r in rows]
    assert max(counts) - min(counts) <= 1  # NTILE guarantee
    by_bin = sorted(rows, key=lambda r: r.bin)
    los = [float(r.lo) for r in by_bin]
    his = [float(r.hi) for r in by_bin]
    assert all(lo <= hi for lo, hi in zip(los, his))
    assert all(his[i] <= los[i + 1] for i in range(9))  # ordered ranges


def test_asof_tolerance_never_matches_outside_window(spark):
    out = _queries()["q_join_asof_tolerance"](spark, SF)
    bad = out.filter(
        F.col("attributed")
        & (
            (F.col("click_within_1h") >= F.col("purchase_ts"))
            | (
                F.col("click_within_1h")
                < F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")
            )
        )
    ).count()
    assert bad == 0
    # tolerance is live: strictly fewer matches than the untolerated as-of
    plain = _queries()["q_join_asof"](spark, SF)
    assert (
        out.filter(F.col("attributed")).count()
        < plain.filter(F.col("last_click_ts").isNotNull()).count()
    )


def test_drift_kl_nonnegative(spark):
    from pyspark_excel_datasource_spark.operators.corpus import _LOG_FP

    rows = _queries()["q_drift_kl"](spark, SF).collect()
    assert len(rows) == 20
    for r in rows:
        # KL >= 0 exactly; the fixed-point sum may dip below by at most
        # 0.5/term of quantization error
        assert r.kl_fp >= -(r.n_tokens + 1) // 2, r
        assert r.kl_fp < 10 * _LOG_FP  # sane magnitude (< 10 nats)


def test_entropy_bounds(spark):
    from pyspark_excel_datasource_spark.operators.corpus import _LOG_FP

    rows = _queries()["q_entropy_ngrams"](spark, SF).collect()
    assert len(rows) == 20
    import math

    for r in rows:
        assert r.entropy_fp >= 0
        # H <= log2(#distinct grams in the source distribution)
        bound = math.log2(max(2, r.n_grams)) * _LOG_FP
        assert r.entropy_fp <= bound + r.n_grams, r


def test_topic_cooccur_shape(spark):
    rows = _queries()["q_topic_cooccur"](spark, SF).collect()
    assert len(rows) == 30
    assert all(r.tok_a < r.tok_b for r in rows)
    assert all(len(r.tok_a) >= 4 and len(r.tok_b) >= 4 for r in rows)
    counts = [r.n_docs for r in rows]
    assert counts == sorted(counts, reverse=True)


def test_ngram_jaccard_pairs_valid(spark):
    rows = _queries()["q_dedup_ngram_jaccard"](spark, SF).collect()
    assert rows, "expected near-dup pairs in the fixture corpus"
    for r in rows:
        assert r.d1 < r.d2
        assert 0.5 <= r.jaccard <= 1.0


def test_union_sketch_bounds_hold(spark):
    rows = _queries()["q_minhash_union_sketch"](spark, SF).collect()
    assert len(rows) == 190  # C(20 sources, 2)
    assert all(r.within_bounds for r in rows)
    assert all(0.0 <= r.jaccard <= 1.0 for r in rows)


def test_ann_recall_verdicts(spark):
    rows = _queries()["q_sim_ann_recall"](spark, SF).collect()
    assert len(rows) == 5
    assert all(r.recall_ok for r in rows)


def test_embed_assign_total_and_in_domain(spark):
    from pyspark_excel_datasource_spark.catalog import table

    out = _queries()["q_embed_assign"](spark, SF).cache()
    emb = table(spark, SF, "embeddings")
    assert out.count() == emb.count()  # total assignment
    labels = {r.label for r in emb.select("label").distinct().collect()}
    assert {r.assigned_label for r in out.collect()} <= labels
    assert out.filter(F.col("dist_fp") < 0).count() == 0


def test_window_deltas_baseline_excludes_current_row(spark):
    out = _queries()["q_window_deltas_vs_baseline"](spark, SF)
    # a user's first event has an empty baseline
    firsts = out.filter(F.col("n_baseline") == 0)
    assert firsts.count() > 0
    assert firsts.filter(F.col("baseline_sum_cents") != 0).count() == 0


def test_sketch_verdict_queries_all_true(spark):
    """The four converted sketch queries must emit all-TRUE verdicts on
    the fixture data (that is what the oracle hash asserts)."""
    qs = _queries()
    for name, flags in (
        ("q_agg_approx", ("cd_within_bounds", "median_within_bounds")),
        ("q_agg_approx_quantile", ("ok_p50", "ok_p90", "ok_p99")),
        ("q_agg_hll", ("within_bounds",)),
        ("q_agg_countmin", ("est_ge_exact", "overshoot_ok")),
    ):
        rows = qs[name](spark, SF).collect()
        assert rows, name
        for r in rows:
            for f in flags:
                assert getattr(r, f) is True, (name, f, r)


def test_multimodal_features_hashable_and_stable(spark):
    out = _queries()["q_multimodal_features"](spark, SF)
    rows = out.collect()
    assert rows
    for r in rows[:50]:
        assert isinstance(r.features_md5, str) and len(r.features_md5) == 32
        assert 1 <= r.argmax_bucket <= 64
    # deterministic digest across runs
    again = _queries()["q_multimodal_features"](spark, SF).collect()
    assert {(r.doc_id, r.features_md5) for r in rows} == {
        (r.doc_id, r.features_md5) for r in again
    }


def test_multimodal_frames_sampling_contract(spark):
    """sample_frames takes floor(nb/64) windows (sampling, not tiling):
    offsets are contiguous multiples of 64, full windows are 64 bytes,
    only the last window may clip, and frame count matches the formula
    per document."""
    from pyspark_excel_datasource_spark.catalog import table

    out = _queries()["q_multimodal_frames"](spark, SF).cache()
    sizes = out.groupBy("doc_id").agg(
        F.sum("frame_size").alias("covered"),
        F.count("*").alias("k"),
        F.max("byte_offset").alias("maxoff"),
        F.min("frame_size").alias("minsz"),
        F.max("frame_size").alias("maxsz"),
    )
    docs = table(spark, SF, "documents").select(
        "doc_id", F.octet_length(F.encode("text", "UTF-8")).alias("nb")
    )
    joined = sizes.join(docs, "doc_id")
    expect_k = F.greatest(F.floor(F.col("nb") / 64), F.lit(1))
    bad_k = joined.filter(F.col("k") != expect_k).count()
    assert bad_k == 0
    assert joined.filter(F.col("maxoff") != (F.col("k") - 1) * 64).count() == 0
    assert joined.filter(F.col("maxsz") > 64).count() == 0
    # coverage = all full windows + a possibly-clipped last window
    expect_cov = (F.col("k") - 1) * 64 + F.least(
        F.lit(64), F.col("nb") - (F.col("k") - 1) * 64
    )
    assert joined.filter(F.col("covered") != expect_cov).count() == 0



def test_sample_exact_pergroup_sizes(spark):
    from pyspark_excel_datasource_spark.operators.pipeline import (
        _EXACT_SAMPLE_N,
    )

    out = _queries()["q_sample_exact_pergroup"](spark, SF)
    per = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert set(per) == {"en", "de", "fr", "es", "zh"}
    assert all(n == _EXACT_SAMPLE_N for n in per.values())
    # stable across invocations (no RNG)
    a = {(r.doc_id, r.lang) for r in out.collect()}
    b = {(r.doc_id, r.lang) for r in _queries()["q_sample_exact_pergroup"](spark, SF).collect()}
    assert a == b


def test_cdc_changelog_classification(spark):
    out = _queries()["q_cdc_changelog"](spark, SF).cache()
    # append-only fixture: no deletes possible
    assert out.filter(F.col("op") == "delete").count() == 0
    # inserts have no old image; updates/unchanged have both
    assert out.filter(
        (F.col("op") == "insert") & F.col("old_n").isNotNull()
    ).count() == 0
    assert out.filter(
        (F.col("op") == "update")
        & (F.col("old_n") == F.col("new_n"))
        & (F.col("old_cents") == F.col("new_cents"))
    ).count() == 0
    assert out.filter(
        (F.col("op") == "unchanged")
        & ((F.col("old_n") != F.col("new_n")) | (F.col("old_cents") != F.col("new_cents")))
    ).count() == 0


def test_bm25_prefers_term_density(spark):
    """Sanity: every top-scored doc actually contains query terms, and
    scores are positive and sorted."""
    rows = _queries()["q_bm25"](spark, SF).collect()
    assert len(rows) == 20
    scores = [r.bm25_fp for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(r.bm25_fp > 0 and r.n_terms_hit >= 1 for r in rows)
