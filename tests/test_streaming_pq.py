"""Streaming-maintained PQ model (VERDICT r10 #1): the embedding
ingest's PQ gate fits the codebook on the first epoch, ENCODES later
arrivals against the landed codebook (no refit, committed vectors
never re-encoded), refits on distortion drift — and every state it
lands is replay-parity-exact vs the batch build (pq_codebook +
pq_encode over the same corpus)."""

from __future__ import annotations

import pytest

import os

import pyspark.sql.functions as F

from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
    ml,
)
from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators.similarity import (
    as_double,
    ivf_list_assign,
    ivfpq_model,
    pq_codebook,
    pq_encode,
)
from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
    IVF_MODEL_DIR,
    IVFPQ_MODEL_DIR,
    PQ_MODEL_DIR,
    _accretes,
    _read_model_meta,
    read_ivf_assign,
    read_ivf_centroids,
    read_ivfpq_codes,
    read_ivfpq_model,
    read_pq_codebook,
    read_pq_codes,
    run_embedding_ingest,
)

SF = "/root/testdata/sf0.001"


def _emb(spark, limit=200):
    return (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < limit)
    )


def _codes_key(df):
    return sorted(
        (r["vec_id"], r["s"], r["code"]) for r in df.collect()
    )


def _cb_key(df):
    return sorted(
        (r["s"], r["j"], tuple(r["cw"])) for r in df.collect()
    )


def test_pq_gate_single_epoch_matches_batch_build(spark, tmp_path):
    """One delivery = one epoch: the gen-0 codebook fit runs on
    exactly the corpus the batch build fits on (the strided sample is
    deterministic by id), so the landed codebook AND the landed codes
    are bit-identical to pq_codebook + pq_encode."""
    raw, zone, ckpt = (str(tmp_path / d) for d in ("raw", "zone", "ckpt"))
    prefix = "t_pq1_"
    tables = {}
    try:
        emb = _emb(spark)
        emb.write.mode("append").parquet(raw)
        tables = run_embedding_ingest(
            spark, raw, zone, ckpt, n_buckets=4, table_prefix=prefix
        )
        assert "pq_codes" in tables
        want_cb = pq_codebook(emb)
        got_cb = read_pq_codebook(spark, zone)
        assert _cb_key(got_cb) == _cb_key(want_cb)
        got = _codes_key(read_pq_codes(spark, tables["pq_codes"], zone))
        want = _codes_key(pq_encode(emb, want_cb))
        assert got == want and len(got) == 200 * 4
        meta = _read_model_meta(zone, PQ_MODEL_DIR)
        assert meta["gen"] == 0 and meta["fit_mean_dist"] is not None
    finally:
        for t in tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_pq_gate_incremental_then_drift_refit(spark, tmp_path):
    """Three waves: wave 1 (which contains the full strided sample)
    fits gen 0; wave 2 is ENCODED against the frozen landed codebook
    (no refit — and because the codebook sample lives entirely in
    wave 1, the merged codes equal the batch encode over both waves);
    wave 3 arrives scaled ×100, its mean distortion blows past the
    default 2× drift factor, the codebook refits over the full
    committed corpus + batch (gen 1) and the full re-encode equals
    the batch build over all three waves. A replayed run is a no-op."""
    raw, zone, ckpt = (str(tmp_path / d) for d in ("raw", "zone", "ckpt"))
    prefix = "t_pq3_"
    tables = {}
    try:
        base = _emb(spark)
        # strided sample ids (vec_id % 29 == 0, first 16) are all
        # < 175 here, so wave 1 contains the whole sample and the
        # gen-0 codebook == the full-corpus batch codebook
        w1 = base.filter(F.col("vec_id") < 175)
        w2 = base.filter(F.col("vec_id") >= 175)
        w3 = base.filter(F.col("vec_id") >= 150).select(
            (F.col("vec_id") + 1000).alias("vec_id"),
            F.transform(
                "embedding", lambda x: (x * 100).cast("float")
            ).alias("embedding"),
        )

        w1.write.mode("append").parquet(raw)
        tables = run_embedding_ingest(
            spark, raw, zone, ckpt, n_buckets=4, table_prefix=prefix
        )
        assert _read_model_meta(zone, PQ_MODEL_DIR)["gen"] == 0
        cb0 = read_pq_codebook(spark, zone)
        assert _cb_key(cb0) == _cb_key(pq_codebook(base))

        # wave 2: steady state — encode-only against the gen-0
        # codebook; merged zone == batch encode of the full corpus
        w2.write.mode("append").parquet(raw)
        run_embedding_ingest(
            spark, raw, zone, ckpt, n_buckets=4, table_prefix=prefix
        )
        assert _read_model_meta(zone, PQ_MODEL_DIR)["gen"] == 0  # no refit
        got = _codes_key(read_pq_codes(spark, tables["pq_codes"], zone))
        want = _codes_key(pq_encode(base, cb0))
        assert got == want and len(got) == 200 * 4

        # wave 3: ×100-scaled arrivals — distortion drift under the
        # DEFAULT 2× factor triggers a gen-1 refit over committed +
        # batch, and the landed state equals the batch build over all
        all_vecs = base.unionByName(w3)
        w3.write.mode("append").parquet(raw)
        run_embedding_ingest(
            spark, raw, zone, ckpt, n_buckets=4, table_prefix=prefix
        )
        meta = _read_model_meta(zone, PQ_MODEL_DIR)
        assert meta["gen"] == 1
        cb1 = read_pq_codebook(spark, zone)
        assert _cb_key(cb1) == _cb_key(pq_codebook(all_vecs))
        got = _codes_key(read_pq_codes(spark, tables["pq_codes"], zone))
        want = _codes_key(pq_encode(all_vecs, cb1))
        assert got == want and len(got) == all_vecs.count() * 4
        assert os.path.isdir(os.path.join(zone, "pq_model", "gen=1"))

        # replay: nothing new — codes, meta, and gen unchanged
        run_embedding_ingest(
            spark, raw, zone, ckpt, n_buckets=4, table_prefix=prefix
        )
        assert _read_model_meta(zone, PQ_MODEL_DIR)["gen"] == 1
        assert (
            _codes_key(read_pq_codes(spark, tables["pq_codes"], zone))
            == got
        )
    finally:
        for t in tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def _ivfpq_codes_key(df):
    return sorted(
        (r["vec_id"], r["cluster_id"], r["s"], r["code"])
        for r in df.collect()
    )


def test_ivfpq_gate_incremental_then_drift_refit(spark, tmp_path):
    """The IVFADC twin of the PQ gate lifecycle: wave 1 (containing
    BOTH deterministic samples — coarse ids %29 and residual-codebook
    ids %31) fits gen 0; wave 2 is coarse-assigned + residual-encoded
    against the frozen landed model (no refit, merged codes == the
    batch encode over both waves); wave 3 arrives ×100-scaled, the
    residual distortion blows the default 2× factor, the model refits
    over committed + batch (gen 1) and equals the batch build over all
    three waves; a replayed run is a no-op."""
    raw, zone, ckpt = (str(tmp_path / d) for d in ("raw", "zone", "ckpt"))
    prefix = "t_ivfpq3_"
    tables = {}
    try:
        base = _emb(spark)
        # strided samples: coarse {0,29,...,174}, codebook {0,31,...,186}
        # — all < 190, so wave 1 reproduces the full-corpus model
        w1 = base.filter(F.col("vec_id") < 190)
        w2 = base.filter(F.col("vec_id") >= 190)
        w3 = base.filter(F.col("vec_id") >= 150).select(
            (F.col("vec_id") + 1000).alias("vec_id"),
            F.transform(
                "embedding", lambda x: (x * 100).cast("float")
            ).alias("embedding"),
        )

        w1.write.mode("append").parquet(raw)
        tables = run_embedding_ingest(
            spark, raw, zone, ckpt,
            pq=False, ivfpq=True, n_buckets=4, table_prefix=prefix,
        )
        meta = _read_model_meta(zone, IVFPQ_MODEL_DIR)
        assert meta["gen"] == 0 and meta["fit_mean_dist"] is not None
        # a flat deployment re-encodes the full corpus on every refit
        assert not _accretes(meta)
        cent0, cb0 = read_ivfpq_model(spark, zone)
        _, _, want_full = ivfpq_model(
            base, centroids=cent0, codebook=cb0
        )

        # wave 2: steady state — encode-only against the gen-0 model
        w2.write.mode("append").parquet(raw)
        run_embedding_ingest(
            spark, raw, zone, ckpt,
            pq=False, ivfpq=True, n_buckets=4, table_prefix=prefix,
        )
        assert _read_model_meta(zone, IVFPQ_MODEL_DIR)["gen"] == 0
        got = _ivfpq_codes_key(
            read_ivfpq_codes(spark, tables["ivfpq_codes"], zone)
        )
        assert got == _ivfpq_codes_key(want_full)
        assert len(got) == 200 * 4

        # wave 3: scaled arrivals — distortion drift, gen-1 refit over
        # committed + batch equals the batch build over all vectors
        all_vecs = base.unionByName(w3)
        w3.write.mode("append").parquet(raw)
        run_embedding_ingest(
            spark, raw, zone, ckpt,
            pq=False, ivfpq=True, n_buckets=4, table_prefix=prefix,
        )
        assert _read_model_meta(zone, IVFPQ_MODEL_DIR)["gen"] == 1
        cent1, cb1 = read_ivfpq_model(spark, zone)
        _, _, want_all = ivfpq_model(
            all_vecs, centroids=cent1, codebook=cb1
        )
        got = _ivfpq_codes_key(
            read_ivfpq_codes(spark, tables["ivfpq_codes"], zone)
        )
        assert got == _ivfpq_codes_key(want_all)

        # replay: no-op
        run_embedding_ingest(
            spark, raw, zone, ckpt,
            pq=False, ivfpq=True, n_buckets=4, table_prefix=prefix,
        )
        assert _read_model_meta(zone, IVFPQ_MODEL_DIR)["gen"] == 1
        assert (
            _ivfpq_codes_key(
                read_ivfpq_codes(spark, tables["ivfpq_codes"], zone)
            )
            == got
        )
    finally:
        for t in tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def _ivf_key(df):
    return sorted(
        (r["vec_id"], r["cluster_id"], r["dist"]) for r in df.collect()
    )


def _zone_table_location(spark, table):
    for row in spark.sql(f"DESCRIBE FORMATTED {table}").collect():
        if (row.col_name or "").strip() == "Location":
            return row.data_type.removeprefix("file:")
    raise AssertionError(f"no catalog location for {table}")


def _dvecs(df):
    return df.select(
        "vec_id", as_double(F.col("embedding")).alias("embedding")
    )


@pytest.mark.slow
def test_ivf_gate_incremental_then_drift_refit(spark, tmp_path):
    """The trained-IVF twin: wave 1 runs the gen-0 Lloyd fit (equal to
    kmeans_fixed over the same vectors — the batch _ivf_model_zone
    build) and files the batch into search-metric inverted lists
    (ivf_list_assign: cosine membership, vector alongside, L2 drift
    dist); wave 2 is FILED against the frozen landed centroids (meta
    untouched); wave 3 arrives ×100-scaled — cosine membership is
    scale-invariant but the L2 drift dist is not, so the gate refits
    over committed + batch (gen 1) to exactly the batch fit over all
    three waves; replay is a no-op. The zone lands partitioned by
    (_epoch, cluster_id) — the DPP file layout — and compaction
    preserves it."""
    raw, zone, ckpt = (str(tmp_path / d) for d in ("raw", "zone", "ckpt"))
    prefix = "t_ivf3_"
    tables = {}
    kw = dict(
        k=16, iterations=2, dim=64, id_col="vec_id", vec_col="embedding"
    )
    try:
        base = _emb(spark)
        w1 = base.filter(F.col("vec_id") < 190)
        w2 = base.filter(F.col("vec_id") >= 190)
        w3 = base.filter(F.col("vec_id") >= 150).select(
            (F.col("vec_id") + 1000).alias("vec_id"),
            F.transform(
                "embedding", lambda x: (x * 100).cast("float")
            ).alias("embedding"),
        )

        w1.write.mode("append").parquet(raw)
        tables = run_embedding_ingest(
            spark, raw, zone, ckpt,
            pq=False, ivf=True, n_buckets=4, table_prefix=prefix,
        )
        assert _read_model_meta(zone, IVF_MODEL_DIR)["gen"] == 0
        cents0 = read_ivf_centroids(spark, zone)
        want_c0, = [
            ml.kmeans_fixed(_dvecs(w1), return_centroids=True, **kw)
        ]
        assert sorted(
            (r["cid"], tuple(r["centroid_vec"])) for r in cents0.collect()
        ) == sorted(
            (r["cid"], tuple(r["centroid_vec"])) for r in want_c0.collect()
        )

        # wave 2: steady state — assign-only against gen-0 centroids
        w2.write.mode("append").parquet(raw)
        run_embedding_ingest(
            spark, raw, zone, ckpt,
            pq=False, ivf=True, n_buckets=4, table_prefix=prefix,
        )
        assert _read_model_meta(zone, IVF_MODEL_DIR)["gen"] == 0
        got_all = read_ivf_assign(spark, tables["ivf_assign"], zone)
        got_w2 = _ivf_key(got_all.filter(F.col("vec_id") >= 190))
        want_w2 = _ivf_key(
            ivf_list_assign(
                _dvecs(w2), cents0, id_col="vec_id",
                vec_col="embedding", with_dist=True,
            )
        )
        assert got_w2 == want_w2 and len(got_w2) == 10
        assert got_all.count() == 200
        # the zone's file layout is the inverted list: cluster_id
        # partition dirs nested under each epoch (what the serving
        # probe join DPP-prunes on)
        loc = _zone_table_location(spark, tables["ivf_assign"])
        e0 = os.path.join(loc, "_epoch=0")
        assert os.path.isdir(e0) and any(
            d.startswith("cluster_id=") for d in os.listdir(e0)
        )

        # wave 3: ×100-scaled — drift refit (gen 1) equals the batch
        # fit over all three waves
        all_vecs = base.unionByName(w3)
        w3.write.mode("append").parquet(raw)
        run_embedding_ingest(
            spark, raw, zone, ckpt,
            pq=False, ivf=True, n_buckets=4, table_prefix=prefix,
        )
        assert _read_model_meta(zone, IVF_MODEL_DIR)["gen"] == 1
        got = _ivf_key(read_ivf_assign(spark, tables["ivf_assign"], zone))
        cents1 = ml.kmeans_fixed(
            _dvecs(all_vecs), return_centroids=True, **kw
        )
        want = _ivf_key(
            ivf_list_assign(
                _dvecs(all_vecs), cents1, id_col="vec_id",
                vec_col="embedding", with_dist=True,
            )
        )
        assert got == want and len(got) == all_vecs.count()

        # replay: no-op
        run_embedding_ingest(
            spark, raw, zone, ckpt,
            pq=False, ivf=True, n_buckets=4, table_prefix=prefix,
        )
        assert _read_model_meta(zone, IVF_MODEL_DIR)["gen"] == 1
        assert (
            _ivf_key(read_ivf_assign(spark, tables["ivf_assign"], zone))
            == got
        )

        # dead-generation compaction: the gen-0 rows superseded by the
        # drift refit are physically dropped, the reader is identical,
        # and the zone folds to one epoch of exactly the live rows
        from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
            compact_model_zone,
            committed_epochs,
        )

        assert spark.table(tables["ivf_assign"]).count() > len(got)
        compact_model_zone(
            spark, tables["ivf_assign"], zone, "ivf_assign",
            IVF_MODEL_DIR, n_buckets=4,
            extra_partition_cols=("cluster_id",),
        )
        assert len(committed_epochs(zone, "ivf_assign")) == 1
        assert spark.table(tables["ivf_assign"]).count() == len(got)
        assert (
            _ivf_key(read_ivf_assign(spark, tables["ivf_assign"], zone))
            == got
        )
        # compaction preserved the DPP file layout
        loc = _zone_table_location(spark, tables["ivf_assign"])
        eps = [d for d in os.listdir(loc) if d.startswith("_epoch=")]
        assert len(eps) == 1 and any(
            d.startswith("cluster_id=")
            for d in os.listdir(os.path.join(loc, eps[0]))
        )
    finally:
        for t in tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_pq_reader_empty_before_any_model(spark, tmp_path):
    """read_pq_codes over a zone with no landed model returns an
    empty, correctly-typed frame (the reader never guesses a gen)."""
    df = read_pq_codes(spark, "nonexistent_table", str(tmp_path / "z"))
    assert df.columns == ["vec_id", "s", "code"]
    assert df.count() == 0


@pytest.mark.slow
def test_store_once_mode_drops_flat_zone_and_refits_from_lists(
    spark, tmp_path
):
    """store_flat_embeddings=False (the store-once knob): no flat
    embeddings zone is landed — the inverted lists ARE the corpus —
    and a drift refit sources its committed vectors from the lists
    zone's newest landed generation: the gen-1 fit equals the batch
    fit over ALL delivered vectors even though no embeddings table
    ever existed. PQ refits ride the same fallback. pq-only without
    ivf is rejected (no vector source)."""
    import pytest

    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators.similarity import (
        ivf_list_assign,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
        read_ivf_lists,
    )

    with pytest.raises(ValueError, match="requires ivf=True"):
        run_embedding_ingest(
            spark, str(tmp_path / "r0"), str(tmp_path / "z0"),
            str(tmp_path / "c0"), pq=True, ivf=False,
            store_flat_embeddings=False,
        )

    raw, zone, ckpt = (str(tmp_path / d) for d in ("raw", "zone", "ckpt"))
    prefix = "t_once_"
    tables = {}
    kw = dict(
        k=16, iterations=2, dim=64, id_col="vec_id", vec_col="embedding"
    )

    def ingest():
        return run_embedding_ingest(
            spark, raw, zone, ckpt,
            pq=True, ivf=True, n_buckets=4, table_prefix=prefix,
            store_flat_embeddings=False,
        )

    try:
        base = _emb(spark)
        w1 = base.filter(F.col("vec_id") < 190)
        w2 = base.filter(F.col("vec_id") >= 190)
        w3 = base.filter(F.col("vec_id") >= 150).select(
            (F.col("vec_id") + 1000).alias("vec_id"),
            F.transform(
                "embedding", lambda x: (x * 100).cast("float")
            ).alias("embedding"),
        )

        w1.write.mode("append").parquet(raw)
        tables = ingest()
        assert "embeddings" not in tables
        assert not spark.catalog.tableExists(f"{prefix}embeddings")
        assert not os.path.isdir(os.path.join(zone, "embeddings"))

        # wave 2: steady state, lists accumulate both waves
        w2.write.mode("append").parquet(raw)
        ingest()
        assert _read_model_meta(zone, IVF_MODEL_DIR)["gen"] == 0
        lists = read_ivf_lists(spark, tables["ivf_assign"], zone)
        assert lists.count() == 200

        # wave 3: x100-scaled -> drift refit; committed vectors come
        # from the LISTS (there is no flat zone), so gen-1 must equal
        # the batch fit over all three waves
        all_vecs = base.unionByName(w3)
        w3.write.mode("append").parquet(raw)
        ingest()
        assert _read_model_meta(zone, IVF_MODEL_DIR)["gen"] == 1
        cents1 = read_ivf_centroids(spark, zone)
        want_c1 = ml.kmeans_fixed(
            _dvecs(all_vecs), return_centroids=True, **kw
        )
        assert sorted(
            (r["cid"], tuple(r["centroid_vec"]))
            for r in cents1.collect()
        ) == sorted(
            (r["cid"], tuple(r["centroid_vec"]))
            for r in want_c1.collect()
        )
        assert _ivf_key(
            read_ivf_assign(spark, tables["ivf_assign"], zone)
        ) == _ivf_key(
            ivf_list_assign(
                _dvecs(all_vecs), want_c1, id_col="vec_id",
                vec_col="embedding", with_dist=True,
            )
        )

        # the PQ refit rode the same lists-sourced fallback
        assert _read_model_meta(zone, PQ_MODEL_DIR)["gen"] >= 1
        cb = read_pq_codebook(spark, zone)
        assert _codes_key(
            read_pq_codes(spark, tables["pq_codes"], zone)
        ) == _codes_key(
            pq_encode(_dvecs(all_vecs), cb).select("vec_id", "s", "code")
        )

        # replay: no-op
        g_ivf = _read_model_meta(zone, IVF_MODEL_DIR)["gen"]
        ingest()
        assert _read_model_meta(zone, IVF_MODEL_DIR)["gen"] == g_ivf
        assert read_ivf_lists(
            spark, tables["ivf_assign"], zone
        ).count() == all_vecs.count()
    finally:
        for t in tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


@pytest.mark.slow
def test_store_once_ivfpq_only_mode(spark, tmp_path):
    """VERDICT r12 #3 — the IVFPQ-only store-once deployment: the
    corpus lives as codes + a retained strided fit-diet sample, no
    flat zone and no lists. The drift refit fit over (retained sample
    ∪ batch) must reproduce the flat twin's full-corpus refit model
    BIT-IDENTICALLY (the fit diet is a pure id predicate, so both
    inputs stride to the same rows); the retained-sample reader must
    resolve every vector's newest encode by predicate; and the
    multi-generation serve must score each row against its own
    generation's model — value-checked here against an independent
    python ADC reconstruction, not the engine's own scoring code."""
    import math

    import pytest

    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators.similarity import (
        ivfpq_topk,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
        compact_model_zone,
        committed_epochs,
        ivfpq_topk_streamed,
        read_fit_sample,
    )

    # pq=True cannot ride this mode (a PQ refit re-encodes the full
    # corpus, which needs a raw source); no index at all is rejected
    with pytest.raises(ValueError, match="cannot also serve a PQ"):
        run_embedding_ingest(
            spark, str(tmp_path / "r0"), str(tmp_path / "z0"),
            str(tmp_path / "c0"), pq=True, ivfpq=True, ivf=False,
            store_flat_embeddings=False,
        )
    with pytest.raises(ValueError, match="requires ivf=True or"):
        run_embedding_ingest(
            spark, str(tmp_path / "r1"), str(tmp_path / "z1"),
            str(tmp_path / "c1"), pq=True, ivfpq=False, ivf=False,
            store_flat_embeddings=False,
        )

    STRIDE, CB_STRIDE, M, DIM = 29, 31, 4, 64
    base = _emb(spark)
    w1 = base.filter(F.col("vec_id") < 190)
    w2 = base.filter(F.col("vec_id") >= 190)
    w3 = base.filter(F.col("vec_id") >= 150).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * 100).cast("float")
        ).alias("embedding"),
    )
    queries = base.filter(F.col("vec_id").isin([3, 57, 111]))

    zones = {}  # mode -> (raw, zone, ckpt)
    tabs = {}
    try:
        for mode, flat in (("flat", True), ("once", False)):
            raw, zone, ckpt = (
                str(tmp_path / f"{d}_{mode}")
                for d in ("raw", "zone", "ckpt")
            )
            zones[mode] = (raw, zone, ckpt)

        def ingest(mode):
            raw, zone, ckpt = zones[mode]
            return run_embedding_ingest(
                spark, raw, zone, ckpt,
                pq=False, ivfpq=True, ivf=False, n_buckets=4,
                table_prefix=f"t_ipqonce_{mode}_",
                store_flat_embeddings=(mode == "flat"),
            )

        def deliver(wave):
            for mode in ("flat", "once"):
                wave.write.mode("append").parquet(zones[mode][0])
                tabs[mode] = ingest(mode)

        def model_key(zone, gen):
            cent, cb = read_ivfpq_model(spark, zone, gen)
            return (
                sorted(
                    (r["cid"], tuple(r["cvec"])) for r in cent.collect()
                ),
                sorted(
                    (r["s"], r["j"], tuple(r["cw"])) for r in cb.collect()
                ),
            )

        def icodes_key(df):
            return sorted(
                (r["vec_id"], r["s"], r["cluster_id"], r["code"])
                for r in df.collect()
            )

        # waves 1+2: gen 0 in both twins, bit-identical state
        deliver(w1)
        deliver(w2)
        zf, zo = zones["flat"][1], zones["once"][1]
        assert "embeddings" not in tabs["once"]
        assert "fit_sample" in tabs["once"]
        assert not os.path.isdir(os.path.join(zo, "embeddings"))
        assert _read_model_meta(zo, IVFPQ_MODEL_DIR)["gen"] == 0
        assert model_key(zf, 0) == model_key(zo, 0)

        # the retained sample is exactly the strided fit diet, raw
        sample_ids = sorted(
            r["vec_id"]
            for r in read_fit_sample(
                spark, tabs["once"]["fit_sample"], zo
            ).collect()
        )
        assert sample_ids == sorted(
            i for i in range(200) if i % STRIDE == 0 or i % CB_STRIDE == 0
        )

        # single-generation: retained reader == flat twin's reader
        got0 = read_ivfpq_codes(
            spark, tabs["once"]["ivfpq_codes"], zo,
        )
        assert set(r["model_gen"] for r in got0.collect()) == {0}
        assert icodes_key(got0.drop("model_gen")) == icodes_key(
            read_ivfpq_codes(spark, tabs["flat"]["ivfpq_codes"], zf)
        )
        gen0_once = icodes_key(got0.drop("model_gen"))

        # single-generation serve: the streamed multi-gen path equals
        # the direct landed-model serve exactly
        served = ivfpq_topk_streamed(
            spark, tabs["once"]["ivfpq_codes"], zo, queries, k=5
        )
        centf, cbf = read_ivfpq_model(spark, zf, 0)
        want = ivfpq_topk(
            base, queries, centroids=centf, codebook=cbf,
            codes=read_ivfpq_codes(
                spark, tabs["flat"]["ivfpq_codes"], zf
            ),
        )
        key = lambda df: sorted(  # noqa: E731
            (r["query_id"], r["sim_rank"], r["neighbor_id"],
             r["cosine_sim"])
            for r in df.collect()
        )
        assert key(served) == key(want)

        # wave 3 (×100-scaled): drift refit -> gen 1 in both twins;
        # the once twin fit over (retained sample ∪ batch) must equal
        # the flat twin's full-corpus refit BIT-IDENTICALLY
        deliver(w3)
        assert _read_model_meta(zf, IVFPQ_MODEL_DIR)["gen"] == 1
        assert _read_model_meta(zo, IVFPQ_MODEL_DIR)["gen"] == 1
        assert model_key(zf, 1) == model_key(zo, 1)

        # retained reader: every delivered vector exactly once; sample
        # ids serve from gen 1, old non-sample ids still from gen 0
        got = read_ivfpq_codes(
            spark, tabs["once"]["ivfpq_codes"], zo,
        ).collect()
        per_vec = {}
        for r in got:
            per_vec.setdefault(r["vec_id"], set()).add(r["model_gen"])
        assert len(per_vec) == 250 and len(got) == 250 * M
        for vid, gens in per_vec.items():
            assert len(gens) == 1
            want_gen = (
                1
                if vid >= 1000 or vid % STRIDE == 0 or vid % CB_STRIDE == 0
                else 0
            )
            assert gens == {want_gen}, (vid, gens)

        # gen-0 rows are FROZEN (never re-encoded) and gen-1 rows
        # match the flat twin's re-encode of the same vectors
        gen0_now = icodes_key(
            spark.createDataFrame(
                [r for r in got if r["model_gen"] == 0]
            ).drop("model_gen")
        )
        assert set(gen0_now) <= set(gen0_once)
        flat1 = set(
            icodes_key(
                read_ivfpq_codes(
                    spark, tabs["flat"]["ivfpq_codes"], zf
                )
            )
        )
        gen1_now = icodes_key(
            spark.createDataFrame(
                [r for r in got if r["model_gen"] == 1]
            ).drop("model_gen")
        )
        assert set(gen1_now) <= flat1

        # multi-generation serve, value-checked against an independent
        # python ADC reconstruction (x̂ = c + r̂ assembled from each
        # row's OWN generation's model)
        served = ivfpq_topk_streamed(
            spark, tabs["once"]["ivfpq_codes"], zo, queries, k=5
        )
        models = {}
        for g in (0, 1):
            cent, cb = read_ivfpq_model(spark, zo, g)
            cents = {r["cid"]: list(r["cvec"]) for r in cent.collect()}
            cws = {
                (r["s"], r["j"]): list(r["cw"]) for r in cb.collect()
            }
            models[g] = (cents, cws)
        sub = DIM // M
        recon = {}
        for vid, rows in {
            v: [r for r in got if r["vec_id"] == v] for v in per_vec
        }.items():
            g = rows[0]["model_gen"]
            cents, cws = models[g]
            c = cents[rows[0]["cluster_id"]]
            xhat = list(c)
            for r in sorted(rows, key=lambda r: r["s"]):
                cw = cws[(r["s"], r["code"])]
                for i, x in enumerate(cw):
                    xhat[r["s"] * sub + i] += x
            recon[vid] = xhat
        qvecs = {
            r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in queries.collect()
        }
        # python mirror of the probe: per query, per gen, top-n_probe
        # cells by cosine (ties: lowest cid)
        import heapq

        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(x * x for x in b))
            return d / (na * nb)

        expected = {}
        for qid, qv in qvecs.items():
            cands = []
            for g in (0, 1):
                cents, _ = models[g]
                probed = heapq.nsmallest(
                    4, cents, key=lambda cid: (-cos(qv, cents[cid]), cid)
                )
                for vid, gens in per_vec.items():
                    if gens != {g} or vid == qid:
                        continue
                    rows = [r for r in got if r["vec_id"] == vid]
                    if rows[0]["cluster_id"] not in probed:
                        continue
                    cands.append((vid, cos(qv, recon[vid])))
            cands.sort(key=lambda t: (-t[1], t[0]))
            expected[qid] = cands[:5]
        got_serve = {}
        for r in served.collect():
            got_serve.setdefault(r["query_id"], []).append(
                (r["sim_rank"], r["neighbor_id"], r["cosine_sim"])
            )
        for qid, exp in expected.items():
            rows = sorted(got_serve[qid])
            assert [n for _, n, _ in rows] == [v for v, _ in exp], (
                qid, rows, exp,
            )
            for (_, _, sim), (_, want_sim) in zip(rows, exp):
                assert abs(sim - want_sim) < 1e-6

        # replay: no-op
        for mode in ("flat", "once"):
            ingest(mode)
        assert _read_model_meta(zo, IVFPQ_MODEL_DIR)["gen"] == 1
        assert key(
            ivfpq_topk_streamed(
                spark, tabs["once"]["ivfpq_codes"], zo, queries, k=5
            )
        ) == key(served)

        # compaction in retained-sample mode: only the sample ids'
        # superseded gen-0 encodes drop; reader and serve identical
        before = spark.table(tabs["once"]["ivfpq_codes"]).count()
        compact_model_zone(
            spark, tabs["once"]["ivfpq_codes"], zo, "ivfpq_codes",
            IVFPQ_MODEL_DIR, n_buckets=4,
            extra_partition_cols=("cluster_id",),
        )
        assert len(committed_epochs(zo, "ivfpq_codes")) == 1
        after = spark.table(tabs["once"]["ivfpq_codes"]).count()
        assert after == 250 * M < before
        assert key(
            ivfpq_topk_streamed(
                spark, tabs["once"]["ivfpq_codes"], zo, queries, k=5
            )
        ) == key(served)
    finally:
        for t in tabs.values():
            for name in t.values():
                spark.sql(f"DROP TABLE IF EXISTS {name}")


@pytest.mark.slow
def test_float32_lists_zone_is_lossless_and_smaller(spark, tmp_path):
    """A float32 ingest (the default ``array<float>`` schema) stores
    the IVF lists' vector column as array<float> — lossless (float→
    double is exact both ways), so the reader's promoted doubles, the
    serve, and a drift refit are all BIT-IDENTICAL to the twin that
    declares ``array<double>`` over the same values, at roughly half
    the vector bytes on disk."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators.similarity import (
        ivf_topk,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
        read_ivf_centroids,
        read_ivf_lists,
    )

    base = _emb(spark)
    drift = base.select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * 100).cast("float")
        ).alias("embedding"),
    )
    queries = base.filter(F.col("vec_id") < 5)
    tabs = {}

    def zone_bytes(zone, sub):
        total = 0
        for root, _d, files in os.walk(os.path.join(zone, sub)):
            for f in files:
                total += os.path.getsize(os.path.join(root, f))
        return total

    try:
        for mode in ("double", "float"):
            raw, zone, ckpt = (
                str(tmp_path / f"{d}_{mode}")
                for d in ("raw", "zone", "ckpt")
            )
            for wave in (base, drift):
                wave.withColumn(
                    "embedding", F.col("embedding").cast(f"array<{mode}>")
                ).write.mode("append").parquet(raw)
                tabs[mode] = run_embedding_ingest(
                    spark, raw, zone, ckpt,
                    pq=False, ivf=True, n_buckets=4,
                    table_prefix=f"t_f32_{mode}_",
                    store_flat_embeddings=False,
                    schema=f"vec_id long, embedding array<{mode}>",
                )

        zd, zf = str(tmp_path / "zone_double"), str(tmp_path / "zone_float")
        # the float zone's landed column IS float32
        t = spark.table(tabs["float"]["ivf_assign"])
        assert t.schema["embedding"].dataType.elementType.typeName() == "float"

        # reader promotion: bit-identical rows incl. the vectors
        def lk(zone, table):
            return sorted(
                (r["vec_id"], r["cluster_id"], tuple(r["embedding"]))
                for r in read_ivf_lists(spark, table, zone).collect()
            )

        assert lk(zf, tabs["float"]["ivf_assign"]) == lk(
            zd, tabs["double"]["ivf_assign"]
        )

        # the drift refit (gen 1, sourced from the float lists) landed
        # bit-identical centroids
        assert _read_model_meta(zf, IVF_MODEL_DIR)["gen"] == 1
        ck = lambda z: sorted(  # noqa: E731
            (r["cid"], tuple(r["centroid_vec"]))
            for r in read_ivf_centroids(spark, z).collect()
        )
        assert ck(zf) == ck(zd)

        # serve bit-identical
        def serve(zone, table):
            return sorted(
                map(
                    tuple,
                    ivf_topk(
                        base.unionByName(drift), queries, k=5,
                        centroids=read_ivf_centroids(spark, zone),
                        lists=read_ivf_lists(spark, table, zone),
                    ).collect(),
                )
            )

        assert serve(zf, tabs["float"]["ivf_assign"]) == serve(
            zd, tabs["double"]["ivf_assign"]
        )

        # and the zone is materially smaller (at this 200-vector test
        # scale parquet framing + the non-vector columns dilute the 2x
        # vector-payload cut to ~0.77x; the factor-10 measurement in
        # BASELINE.md, "Round-13 store-once footprint lines", shows the
        # real ratio)
        bf = zone_bytes(zf, "ivf_assign")
        bd = zone_bytes(zd, "ivf_assign")
        assert bf < 0.85 * bd, (bf, bd)
    finally:
        for t in tabs.values():
            for name in t.values():
                spark.sql(f"DROP TABLE IF EXISTS {name}")


@pytest.mark.slow
def test_lists_vector_dtype_follows_ingest_schema(spark, tmp_path):
    """The lists' storage dtype resolves from the DECLARED ingest
    schema, so float32-contract callers get the compact float zone
    while a true-float64 ingest keeps double storage — the compact
    zone can never silently drop bits."""
    base = _emb(spark, limit=100)
    tabs = {}
    try:
        # default schema (array<float>): auto -> float storage
        raw, zone, ckpt = (
            str(tmp_path / f"{d}_f") for d in ("raw", "zone", "ckpt")
        )
        base.write.parquet(raw)
        tabs["f"] = run_embedding_ingest(
            spark, raw, zone, ckpt, pq=False, ivf=True, n_buckets=4,
            table_prefix="t_auto_f_", store_flat_embeddings=False,
        )
        t = spark.table(tabs["f"]["ivf_assign"])
        assert (
            t.schema["embedding"].dataType.elementType.typeName()
            == "float"
        )

        # declared array<double> ingest: auto -> double storage
        raw, zone, ckpt = (
            str(tmp_path / f"{d}_d") for d in ("raw", "zone", "ckpt")
        )
        base.withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        ).write.parquet(raw)
        tabs["d"] = run_embedding_ingest(
            spark, raw, zone, ckpt, pq=False, ivf=True, n_buckets=4,
            table_prefix="t_auto_d_", store_flat_embeddings=False,
            schema="vec_id long, embedding array<double>",
        )
        t = spark.table(tabs["d"]["ivf_assign"])
        assert (
            t.schema["embedding"].dataType.elementType.typeName()
            == "double"
        )
    finally:
        for t in tabs.values():
            for name in t.values():
                spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_multigen_scores_bit_identical_to_per_gen_chains(spark):
    """The shared generation-as-data serve (r14 — VERDICT r13 #2) must
    reproduce the loop-of-chains scores BIT-identically: every (query,
    vector) pair exists under exactly one generation, so adding `gen`
    to the model-side joins cannot change any decimal-sum group. The
    oracle gates this end-to-end; this test pins the two scorer
    functions against each other directly."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators.similarity import (
        _coarse_centroids,
        _ivfpq_scores,
        _ivfpq_scores_multigen,
        ivfpq_model,
    )

    base = _emb(spark, limit=150)
    drift = base.select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * 100).cast("float")
        ).alias("embedding"),
    )
    queries = base.filter(F.col("vec_id") < 5)

    models = {}
    for g, corpus in ((0, base), (1, drift)):
        cent, cb, codes = ivfpq_model(corpus)
        models[g] = (_coarse_centroids(cent), cb, codes)

    def rows(df):
        return sorted(
            (r["query_id"], r["neighbor_id"], r["_sim"])
            for r in df.collect()
        )

    per_gen = None
    for g, (cent, cb, codes) in models.items():
        s = _ivfpq_scores(queries, cent, cb, codes)
        per_gen = s if per_gen is None else per_gen.unionByName(s)

    cents_g = cb_g = codes_g = None
    for g, (cent, cb, codes) in models.items():
        cg = cent.withColumn("gen", F.lit(g).cast("long"))
        bg = cb.withColumn("gen", F.lit(g).cast("long"))
        dg = codes.withColumn("gen", F.lit(g).cast("long"))
        cents_g = cg if cents_g is None else cents_g.unionByName(cg)
        cb_g = bg if cb_g is None else cb_g.unionByName(bg)
        codes_g = dg if codes_g is None else codes_g.unionByName(dg)

    got = _ivfpq_scores_multigen(queries, cents_g, cb_g, codes_g)
    want = rows(per_gen)
    assert len(want) > 0
    assert rows(got) == want  # exact, not approx
