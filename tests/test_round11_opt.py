"""Round-11 optimization pins: packed PQ scoring must be bit-equal to
the unrolled SQL the DuckDB oracles evaluate, run through Spark."""

from __future__ import annotations

from pyspark.sql import functions as F

from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.catalog import (
    table,
)
from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators import (
    similarity as S,
)


def _wide_ref(dists, adc_alias="adc"):
    """(vec_id, adc, rec, ex) from an unrolled d/g/ex relation — the
    oracle's readout expressions over the named columns."""
    rec = F.least(*[F.col(f"d0_{k}") for k in range(S.PQ_K)])
    for s in range(1, S.PQ_M):
        rec = rec + F.least(*[F.col(f"d{s}_{k}") for k in range(S.PQ_K)])
    return dists.select(
        "vec_id",
        F.expr(S._pq_adc_expr()).alias(adc_alias),
        rec.alias("rec"),
        "ex",
    )


def test_packed_trained_scoring_bit_equals_unrolled(spark, sf_dir):
    """adc/rec/ex from the round-11 packed index-aware folds must be
    BIT-equal (compared with !=, no tolerance) to the oracle's unrolled
    d{s}_{k}/g{s}_{k} SQL over the whole fixture, for the trained
    codebook."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cbp = S._pq_trained_codebook(spark, sf_dir)
    q_row = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")
    )
    packed = emb.crossJoin(
        F.broadcast(S._pq_packed_cb(cbp, "cba"))
    ).crossJoin(F.broadcast(q_row)).select(
        "vec_id",
        F.expr(S._pq_packed_adc_sql("embedding", "qe", "cba")).alias("adc"),
        F.expr(S._pq_packed_rec_sql("embedding", "cba")).alias("rec"),
        F.expr(S._pq_packed_ex_sql("embedding", "qe")).alias("ex"),
    )
    ref = _wide_ref(
        emb.crossJoin(F.broadcast(cbp))
        .crossJoin(F.broadcast(q_row))
        .select("vec_id", *[F.expr(c) for c in S._pqt_dist_cols("spark")])
    )
    j = packed.alias("p").join(ref.alias("r"), "vec_id")
    bad = j.filter(
        (F.col("p.adc") != F.col("r.adc"))
        | (F.col("p.rec") != F.col("r.rec"))
        | (F.col("p.ex") != F.col("r.ex"))
    ).count()
    assert bad == 0
    assert packed.count() == emb.count()


def test_packed_anchor_scoring_bit_equals_unrolled(spark, sf_dir):
    """Same pin for the ANCHOR codebook (packed codewords are anchor
    slices) — covers q_pq_train_audit's anchor arm and q_ann_ivf_pq."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    anchors = emb.filter(F.col("vec_id") < S.PQ_K).groupBy().agg(
        *[
            F.max(
                F.when(F.col("vec_id") == k, F.col("embedding"))
            ).alias(f"a{k}")
            for k in range(S.PQ_K)
        ]
    )
    q_row = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")
    )
    packed = emb.crossJoin(
        F.broadcast(S._pq_packed_anchor_cb(anchors, "cba"))
    ).crossJoin(F.broadcast(q_row)).select(
        "vec_id",
        F.expr(S._pq_packed_adc_sql("embedding", "qe", "cba")).alias("adc"),
        F.expr(S._pq_packed_rec_sql("embedding", "cba")).alias("rec"),
        F.expr(S._pq_packed_ex_sql("embedding", "qe")).alias("ex"),
    )
    ref = _wide_ref(
        emb.crossJoin(F.broadcast(anchors))
        .crossJoin(F.broadcast(q_row))
        .select("vec_id", *[F.expr(c) for c in S._pq_dist_cols("spark")])
    )
    j = packed.alias("p").join(ref.alias("r"), "vec_id")
    bad = j.filter(
        (F.col("p.adc") != F.col("r.adc"))
        | (F.col("p.rec") != F.col("r.rec"))
        | (F.col("p.ex") != F.col("r.ex"))
    ).count()
    assert bad == 0


def test_minhash_signature_bit_equals_duckdb_oracle(spark, sf_dir, duck):
    """The Spark signature of every non-empty fixture shingle set equals
    DuckDB's ``minhash_signature_sql`` over the same hashes, exactly."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.functions.hashing import (
        minhash_signature,
        minhash_signature_sql,
    )
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.dedup import (
        _HS_CTE,
    )
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.minhash import (
        hashed_shingle_set,
    )

    got = {
        r["doc_id"]: list(r["sig"])
        for r in table(spark, sf_dir, "documents")
        .select("doc_id", hashed_shingle_set("text").alias("hs"))
        .filter(F.size("hs") > 0)
        .select("doc_id", minhash_signature(F.col("hs")).alias("sig"))
        .collect()
    }
    sig_sql = ", ".join(minhash_signature_sql("h"))
    want = {
        r[0]: list(r[1:])
        for r in duck.execute(
            f"WITH {_HS_CTE} SELECT doc_id, {sig_sql} FROM sh GROUP BY doc_id"
        ).fetchall()
    }
    assert got  # non-degenerate
    assert got == want


def test_minhash_signature_of_empty_set_is_all_null(spark):
    """An empty shingle set has a defined signature: NUM_HASHES nulls
    (``array_min`` of an empty array), whether or not the call site
    filters ``size(hs) > 0``."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.functions.hashing import (
        NUM_HASHES,
        minhash_signature,
    )

    sig = (
        spark.createDataFrame([([],)], "hs array<long>")
        .select(minhash_signature(F.col("hs")).alias("sig"))
        .collect()[0]["sig"]
    )
    assert sig == [None] * NUM_HASHES


def test_packed_adc_tie_break_prefers_smallest_k(spark):
    """The strict-< fold must keep the FIRST (smallest-k) argmin on
    ties — the <=-chain rule of ``_pq_adc_expr`` — including when the
    tie is between later codewords."""
    rows = []
    # cb: one subspace grid (PQ_M identical subspaces so the query runs
    # with the production PQ_M without caring about s) where codewords
    # 1 and 2 tie at distance 0 from the probe vector.
    base = [0.0] * S.PQ_SUB
    off = [1.0] + [0.0] * (S.PQ_SUB - 1)
    cws = [off, base, base, off]  # k=1 and k=2 tie (d=0)
    rows.append((1, [0.0] * S.PCA_DIM, [2.0] * S.PCA_DIM))
    df = spark.createDataFrame(
        rows, "vec_id int, embedding array<double>, qe array<double>"
    ).withColumn(
        "cba",
        F.array(
            *[
                F.array(*[F.lit(cw).cast("array<double>") for cw in cws])
                for _ in range(S.PQ_M)
            ]
        ),
    )
    out = df.select(
        F.expr(S._pq_packed_adc_sql("embedding", "qe", "cba")).alias("adc")
    ).collect()[0]["adc"]
    # argmin is k=1 (first zero-distance codeword); its g per subspace is
    # sum((2-0)^2 * PQ_SUB) = 4*PQ_SUB; summed over PQ_M subspaces.
    assert out == 4.0 * S.PQ_SUB * S.PQ_M
