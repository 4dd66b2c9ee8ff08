"""Round-8 pins: the two-level build as the ONLY dynamic-K index path,
its enlarged cap/sample dials, the oracle's integer isqrt, and the
shared RHP sign-bit frame."""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F


def test_twolevel_dials_rule():
    """Integer dial rules: K tracks N/64 up to the cap; the cap keeps
    K <= sample/4 (first-K init must draw from the sample); the router
    count is isqrt(K) floored at 4."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.similarity import (
        IVF2_K_CAP,
        IVF2_SAMPLE,
        SEMDEDUP_TARGET_CLUSTER,
    )

    assert IVF2_K_CAP * 4 <= IVF2_SAMPLE

    def k_of(n: int) -> int:
        return max(8, min(n // SEMDEDUP_TARGET_CLUSTER, IVF2_K_CAP))

    assert k_of(500) == 8
    assert k_of(20_000) == 312
    assert k_of(60_000) == 937
    # the round-8 100x point: the old 1024 cap made cluster size ~195
    # here (5.0x pair wall for 3.3x data); 2048 holds it at ~98
    assert k_of(200_000) == 2048
    assert 200_000 // k_of(200_000) <= 2 * SEMDEDUP_TARGET_CLUSTER


def test_oracle_isqrt_matches_python():
    """The DuckDB replay derives the router count with a bounded integer
    scan; it must agree with Python's math.isqrt for every K the cap
    allows (a too-small scan bound silently diverges at large K —
    k=2048 needs s=45)."""
    con = duckdb.connect()
    for k in (8, 31, 312, 937, 1024, 2047, 2048):
        s = con.execute(
            f"SELECT GREATEST(4, MAX(s)) FROM range(1, 80) t(s)"
            f" WHERE s * s <= {k}"
        ).fetchone()[0]
        assert s == max(4, math.isqrt(k)), k


def test_rhp_families_share_one_bit_frame(spark, sf_dir):
    """The unsharded sketches and the sharded band rows must both
    derive from ONE persisted bit frame — the round-8 constant-factor
    fix (the sharded form used to re-pay the full sign fold: 98 s vs
    22 s at the 10x soak). Pin: after building both, the cache holds
    the shared 'bits' entry, and the sharded codes equal an inline
    recomputation at the per-shard width (packing from materialized
    ints is exact)."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.catalog import (
        table,
    )
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.functions.vectors import (
        as_double,
    )
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.similarity import (
        RHP_BANDS,
        _RHP_CACHE,
        _rhp_bit_exprs,
        _rhp_sharded_band_rows,
        _rhp_sketches,
        clear_rhp_cache,
        rhp_band_bits,
        rhp_shard_bits,
    )

    clear_rhp_cache()
    try:
        _rhp_sketches(spark, sf_dir)
        _rhp_sharded_band_rows(spark, sf_dir)
        kinds = {k[-1] for k in _RHP_CACHE}
        assert "bits" in kinds and "sharded" in kinds
        # value identity vs the inline fold at the sharded width
        emb = table(spark, sf_dir, "embeddings")
        n = emb.count()
        bb = rhp_band_bits(n, shard_bits=rhp_shard_bits(n))
        bits = _rhp_bit_exprs(as_double(F.col("embedding")), RHP_BANDS * bb)
        codes = F.array(
            *[
                sum(
                    (bits[b * bb + r] * F.lit(1 << r) for r in range(1, bb)),
                    start=bits[b * bb],
                ).cast("int")
                for b in range(RHP_BANDS)
            ]
        )
        inline = {
            (r["vec_id"], r["band"]): r["code"]
            for r in emb.select(
                "vec_id", F.posexplode(codes).alias("band", "code")
            ).collect()
        }
        packed = {
            (r["vec_id"], r["band"]): r["code"]
            for r in _rhp_sharded_band_rows(spark, sf_dir).collect()
        }
        assert packed == inline
    finally:
        clear_rhp_cache()


def test_semdedup_scaled_probe_bounded_at_cap(spark):
    """Beyond the cap the index still bounds per-cluster occupancy near
    2x the target (the cap/sample pair was sized for exactly this —
    the 100x soak's finding). Synthetic 16k-vector fixture: K = 250,
    max bucket stays far below the fixed-K N/8 regime."""
    import random

    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.similarity import (
        _twolevel_assignment,
        clear_ivf_cache,
    )

    rng = random.Random(20260815)
    n, dim = 16_384, 8
    rows = [
        (i, [float(rng.uniform(-1.0, 1.0)) for _ in range(dim)])
        for i in range(n)
    ]
    import tempfile

    d = tempfile.mkdtemp(prefix="twolevel_cap_")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).coalesce(4).write.mode("overwrite").parquet(d + "/embeddings.parquet")
    clear_ivf_cache()
    try:
        a = _twolevel_assignment(spark, d)
        assert a.count() == n
        max_bucket = (
            a.groupBy("cent_id").count().agg(F.max("count")).first()[0]
        )
        assert max_bucket < n / 8
    finally:
        clear_ivf_cache()
        import shutil

        shutil.rmtree(d, ignore_errors=True)


def test_ivf_pq_twolevel_is_bucket_restricted_adc(spark, sf_dir):
    """The composed production stack: every returned candidate lives in
    the query's two-level bucket, the query itself is excluded, rows
    come back ADC-ascending, and — where a vec_id also appears in the
    UNRESTRICTED PQ scan (q_ann_pq_adc, same query vector) — both forms
    report the identical (adc_dist, exact_dist): bucket restriction
    prunes candidates, never changes a surviving score."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.similarity import (
        PQ_TOP,
        QUERY_VEC_ID,
        _twolevel_assignment,
        q_ann_ivf_pq_twolevel,
        q_ann_pq_adc,
    )

    res = q_ann_ivf_pq_twolevel(spark, sf_dir).collect()
    assert 0 < len(res) <= PQ_TOP
    assigned = {
        r["vec_id"]: r["cent_id"]
        for r in _twolevel_assignment(spark, sf_dir)
        .select("vec_id", "cent_id")
        .collect()
    }
    q_cent = assigned[QUERY_VEC_ID]
    for r in res:
        assert r["vec_id"] != QUERY_VEC_ID
        assert assigned[r["vec_id"]] == q_cent
    adcs = [r["adc_dist"] for r in res]
    assert adcs == sorted(adcs)
    full = {
        r["vec_id"]: (r["adc_dist"], r["exact_dist"])
        for r in q_ann_pq_adc(spark, sf_dir).collect()
    }
    for r in res:
        if r["vec_id"] in full:
            assert (r["adc_dist"], r["exact_dist"]) == full[r["vec_id"]]


def test_ivf_index_stats_audits_the_real_index(spark, sf_dir):
    """The health audit must describe the session's actual two-level
    assignment: vector total equals the corpus, cluster count obeys the
    K dial, occupancy extrema bracket the mean, and the imbalance
    factor is max/mean (>= 1 by construction, 1.0 iff balanced)."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.catalog import (
        table,
    )
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.similarity import (
        IVF2_K_CAP,
        SEMDEDUP_TARGET_CLUSTER,
        q_ivf_index_stats,
    )

    (row,) = q_ivf_index_stats(spark, sf_dir).collect()
    n = table(spark, sf_dir, "embeddings").count()
    assert row["n_vectors"] == n
    k_dial = max(8, min(n // SEMDEDUP_TARGET_CLUSTER, IVF2_K_CAP))
    # empty clusters may collapse (groupBy only sees occupied ones)
    assert 1 <= row["n_clusters"] <= k_dial
    assert row["min_occ"] <= row["avg_occ"] <= row["max_occ"]
    assert row["imbalance"] >= 1.0
    assert row["imbalance"] == pytest.approx(
        row["max_occ"] / row["avg_occ"], abs=2e-4
    )


def test_index_append_covers_delta_and_coassigns_duplicates(spark, tmp_path):
    """The append path must (a) assign EVERY delta vector exactly once,
    (b) choose only centroids that exist in the base-trained index, and
    (c) be a deterministic function of the vector: two identical delta
    vectors land in the same cluster with the same cosine — the
    property that makes frozen-router ingest safe for exact-dup
    routing."""
    import random

    from pyspark.sql import functions as F2
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.similarity import (
        IVF_APPEND_DEN,
        IVF_APPEND_NUM,
        q_ivf_index_append,
    )

    rng = random.Random(20260816)
    n, dim = 1200, 8
    base_rows = [
        (i, [float(rng.uniform(-1.0, 1.0)) for _ in range(dim)])
        for i in range(900)
    ]
    # delta: 150 fresh vectors + 150 EXACT copies of the fresh ones
    fresh = [
        (900 + i, [float(rng.uniform(-1.0, 1.0)) for _ in range(dim)])
        for i in range(150)
    ]
    copies = [(1050 + i, vec) for i, (_, vec) in enumerate(fresh)]
    rows = base_rows + fresh + copies
    assert len(rows) == n
    d = str(tmp_path / "fix")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).coalesce(2).write.parquet(d + "/embeddings.parquet")

    out = q_ivf_index_append(spark, d).collect()
    t = (IVF_APPEND_NUM * n) // IVF_APPEND_DEN
    assert sorted(r["vec_id"] for r in out) == list(range(t, n))
    by_id = {r["vec_id"]: (r["cent_id"], r["sim"]) for r in out}
    # (c): each exact copy matches its twin's (cluster, cosine)
    for i in range(150):
        assert by_id[900 + i] == by_id[1050 + i]
    # (b): all centroids come from the base-trained index (init ids < k)
    k = max(8, min(t // 64, 2048))
    assert all(0 <= c < k for c, _ in by_id.values())
    assert all(-1.0 <= s <= 1.0 for _, s in by_id.values())


def test_drift_audit_invariants_and_prefix_chain(spark, sf_dir):
    """Drift audit: one row covering exactly the delta slice, drift
    count bounded by it, averages inside cosine range. Plus the
    prefix-chain contract the oracle relies on: the z-prefixed
    two-level CTE chain must share NO CTE name with the default chain
    (so both can live in one WITH clause) and the default chain must be
    byte-identical to the pre-prefix form (the soak memo needle)."""
    import re

    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.catalog import (
        table,
    )
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.similarity import (
        IVF_APPEND_DEN,
        IVF_APPEND_NUM,
        _twolevel_assign_ctes,
        q_ivf_drift_audit,
    )

    (row,) = q_ivf_drift_audit(spark, sf_dir).collect()
    n = table(spark, sf_dir, "embeddings").count()
    t = (IVF_APPEND_NUM * n) // IVF_APPEND_DEN
    assert row["n_delta"] == n - t
    assert 0 <= row["n_drifted"] <= row["n_delta"]
    assert -1.0 <= row["avg_sim_frozen"] <= 1.0
    assert -1.0 <= row["avg_sim_full"] <= 1.0

    names = lambda sql: set(  # noqa: E731
        re.findall(r"(\w+) AS \(", sql)
    )
    plain, prefixed = _twolevel_assign_ctes(), _twolevel_assign_ctes("z")
    assert _twolevel_assign_ctes(prefix="") == plain
    assert not (names(plain) & names(prefixed))


def test_multiprobe_twolevel_dominates_single_probe(spark, sf_dir):
    """More probes can only improve the top-k: the multiprobe candidate
    pool contains the single-probe bucket, so at every rank the
    multiprobe similarity must be >= the single-probe one (rounded
    values; both queries share the session index and tie-breaks)."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.similarity import (
        q_ann_ivf_multiprobe_twolevel,
        q_ann_ivf_scaled,
    )

    multi = [r["sim"] for r in q_ann_ivf_multiprobe_twolevel(spark, sf_dir).collect()]
    single = [r["sim"] for r in q_ann_ivf_scaled(spark, sf_dir).collect()]
    assert multi == sorted(multi, reverse=True)
    assert len(multi) >= len(single)
    for m, s in zip(multi, single):
        assert m >= s


def test_filtered_search_prefilters_inside_bucket(spark, sf_dir):
    """Filtered vector search: every hit carries the query's label AND
    lives in the query's bucket (pre-filtering, not post-filter-and-
    truncate), similarities descending."""
    from pyspark.sql import functions as F2
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.catalog import (
        table,
    )
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.similarity import (
        QUERY_VEC_ID,
        _twolevel_assignment,
        q_ann_filtered,
    )

    res = q_ann_filtered(spark, sf_dir).collect()
    assert res, "label+bucket intersection should be non-empty at sf0.001"
    labels = {
        r["vec_id"]: r["label"]
        for r in table(spark, sf_dir, "embeddings")
        .select("vec_id", "label")
        .collect()
    }
    assigned = {
        r["vec_id"]: r["cent_id"]
        for r in _twolevel_assignment(spark, sf_dir)
        .select("vec_id", "cent_id")
        .collect()
    }
    q_label, q_cent = labels[QUERY_VEC_ID], assigned[QUERY_VEC_ID]
    for r in res:
        assert r["label"] == q_label
        assert assigned[r["vec_id"]] == q_cent
        assert r["vec_id"] != QUERY_VEC_ID
    sims = [r["sim"] for r in res]
    assert sims == sorted(sims, reverse=True)


def test_recall_twolevel_invariants(spark, sf_dir):
    """Production-index recall audit: one row per query in the batch,
    hits bounded by k, recall = n_hit/k in [0, 1]."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.similarity import (
        ANN_BATCH_K,
        ANN_BATCH_Q,
        q_ann_recall_twolevel,
    )

    rows = q_ann_recall_twolevel(spark, sf_dir).collect()
    assert len(rows) == ANN_BATCH_Q
    for r in rows:
        assert 0 <= r["n_hit"] <= ANN_BATCH_K
        assert r["recall"] == pytest.approx(r["n_hit"] / ANN_BATCH_K)


def test_batch_twolevel_matches_per_query_form(spark, sf_dir):
    """The batch form must return, for the query the single-query form
    serves (vec_id 0), exactly the single-query top-k prefix: same
    vec_ids in the same rank order with the same rounded sims."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.similarity import (
        ANN_BATCH_K,
        QUERY_VEC_ID,
        q_ann_batch_twolevel,
        q_ann_ivf_scaled,
    )

    batch = sorted(
        (
            r
            for r in q_ann_batch_twolevel(spark, sf_dir).collect()
            if r["q_id"] == QUERY_VEC_ID
        ),
        key=lambda r: r["rnk"],
    )
    single = q_ann_ivf_scaled(spark, sf_dir).collect()[:ANN_BATCH_K]
    assert [(r["vec_id"], r["sim"]) for r in batch] == [
        (r["vec_id"], r["sim"]) for r in single
    ]


def test_ingest_dedup_flags_planted_corpus_duplicates(spark, tmp_path):
    """Dedup-at-ingest ground truth: delta vectors that are EXACT
    copies of base vectors must be flagged with max_sim == 1.0 and
    matched to a base doc (co-routing guarantees the copy lands in its
    twin's cluster), while orthogonal delta vectors that collide with
    nothing must be absent from the reject list."""
    import random

    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.similarity import (
        q_dedup_ingest_incremental,
    )

    rng = random.Random(20260817)
    dim = 8
    base = [
        (i, [float(rng.uniform(-1.0, 1.0)) for _ in range(dim)])
        for i in range(900)
    ]
    # delta (vec_id >= 900): 100 exact copies of base vectors + 200
    # fresh random vectors (may or may not collide — not asserted)
    copies = [(900 + i, base[i * 7][1]) for i in range(100)]
    fresh = [
        (1000 + i, [float(rng.uniform(-1.0, 1.0)) for _ in range(dim)])
        for i in range(200)
    ]
    rows = base + copies + fresh
    d = str(tmp_path / "fix")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).coalesce(2).write.parquet(d + "/embeddings.parquet")

    out = {r["doc_id"]: r for r in q_dedup_ingest_incremental(spark, d).collect()}
    for i in range(100):
        r = out.get(900 + i)
        assert r is not None, f"exact copy {900 + i} not flagged"
        assert r["max_sim"] == 1.0
        assert r["matched_doc_id"] < 900
