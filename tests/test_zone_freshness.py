"""Freshness-report + store-once crash-window discipline (ADVICE r13
#1/#2/#3): the retained-sample zone's dashboard accounting must use
the READER's keep predicate (older-generation non-sample rows are
live, not reclaimable), the reader and compactor must clamp the
serving generation to the zone's max landed generation so a refit's
crash window (meta committed, codes epoch not landed) never drops the
retained-sample ids from serving, and a not-yet-landed zone must
degrade to a well-formed sentinel row instead of raising."""

from __future__ import annotations

import pytest

import os

import pyspark.sql.functions as F

from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
    IVF_MODEL_DIR,
    IVFPQ_MODEL_DIR,
    _accretes,
    _read_model_meta,
    _write_model_meta,
    committed_epochs,
    compact_model_zone,
    read_ivfpq_codes,
    run_embedding_ingest,
    stream_zone_freshness,
)

SF = "/root/testdata/sf0.001"
STRIDE, CB_STRIDE, M = 29, 31, 4


def _emb(spark, limit=200):
    return (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < limit)
    )


def _drop_tables(spark, prefix):
    for tb in spark.catalog.listTables():
        if tb.name.startswith(prefix):
            spark.sql(f"DROP TABLE IF EXISTS {tb.name}")


def _once_zone(spark, tmp_path, prefix, waves):
    """Deliver ``waves`` through an IVFPQ-only store-once ingest."""
    raw, zone, ckpt = (
        str(tmp_path / d) for d in ("raw", "zone", "ckpt")
    )
    tables = {}
    for wave in waves:
        wave.write.mode("append").parquet(raw)
        tables = run_embedding_ingest(
            spark, raw, zone, ckpt,
            pq=False, ivfpq=True, ivf=False, n_buckets=4,
            table_prefix=prefix, store_flat_embeddings=False,
        )
    return zone, tables


def _codes_key(df):
    return sorted(
        (r["vec_id"], r["s"], r["cluster_id"], r["code"], r["model_gen"])
        for r in df.collect()
    )


def test_retained_reader_survives_refit_crash_window(spark, tmp_path):
    """ADVICE r13 #2: with the meta already at gen+1 but no gen+1
    rows landed (the refit crash window), compaction must not delete
    committed rows. Two store-once deployments:

    * IVFPQ-only: the reader clamps to the zone's max landed
      generation and keeps serving the full committed corpus — a
      meta-resolved filter would drop every sample id (its newest
      landed encode is at gen, excluded by both predicate arms) — and
      the compactor keeps exactly what the reader serves.
    * IVF (``ivf=True, store_flat_embeddings=False``): the lists zone
      is the only copy of the corpus and re-encodes in full, so its
      serving generation has no rows yet. Compaction refuses and the
      zone keeps every row for the replayed refit to read."""
    base = _emb(spark)
    prefix = "t_zfcw_"
    try:
        zone, tables = _once_zone(
            spark, tmp_path, prefix,
            (base.filter(F.col("vec_id") < 150),
             base.filter(F.col("vec_id") >= 150)),
        )
        table = tables["ivfpq_codes"]
        before = _codes_key(read_ivfpq_codes(spark, table, zone))
        assert len(before) == 200 * M
        n_samples = sum(
            1 for i in range(200)
            if i % STRIDE == 0 or i % CB_STRIDE == 0
        )
        assert n_samples > 0

        # simulate the crash window: meta names gen+1, no gen+1 codes
        meta = _read_model_meta(zone, IVFPQ_MODEL_DIR)
        assert meta["gen"] == 0
        _write_model_meta(zone, IVFPQ_MODEL_DIR, {**meta, "gen": 1})

        during = _codes_key(read_ivfpq_codes(spark, table, zone))
        assert during == before  # full corpus still served

        # compaction inside the window must not reclaim the sample
        # ids' only landed encode either (reader/compactor identity)
        compact_model_zone(
            spark, table, zone, "ivfpq_codes", IVFPQ_MODEL_DIR,
            n_buckets=4, extra_partition_cols=("cluster_id",),
        )
        after = _codes_key(read_ivfpq_codes(spark, table, zone))
        assert after == before
    finally:
        _drop_tables(spark, prefix)

    prefix = "t_zfcwivf_"
    raw, zone, ckpt = (
        str(tmp_path / f"{d}_ivf") for d in ("raw", "zone", "ckpt")
    )
    try:
        base.write.parquet(raw)
        table = run_embedding_ingest(
            spark, raw, zone, ckpt,
            pq=False, ivf=True, ivfpq=False, n_buckets=4,
            table_prefix=prefix, store_flat_embeddings=False,
        )["ivf_assign"]
        epochs = committed_epochs(zone, "ivf_assign")
        assert spark.table(table).count() == 200

        meta = _read_model_meta(zone, IVF_MODEL_DIR)
        _write_model_meta(
            zone, IVF_MODEL_DIR, {**meta, "gen": meta["gen"] + 1}
        )
        with pytest.raises(ValueError, match="Replay the stream"):
            compact_model_zone(
                spark, table, zone, "ivf_assign", IVF_MODEL_DIR,
                n_buckets=4, extra_partition_cols=("cluster_id",),
            )
        assert spark.table(table).count() == 200
        assert committed_epochs(zone, "ivf_assign") == epochs
    finally:
        _drop_tables(spark, prefix)


def test_freshness_retained_sample_accounting(spark, tmp_path):
    """ADVICE r13 #1: in a retained-sample zone the freshness report
    must count live/dead with the reader's own keep predicate — after
    a drift refit, older-generation NON-sample rows are live (the
    reader serves them) and only the sample ids' superseded encodes
    are reclaimable; dead_epochs is 0 by definition. The store-once
    ingest records the deployment in the model meta, so the report,
    the reader and the compactor follow it with no flag passed: a
    compaction keeps all 250 vectors served (a full-re-encode fold of
    this zone kept 63)."""
    base = _emb(spark)
    w3 = base.filter(F.col("vec_id") >= 150).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * 100).cast("float")
        ).alias("embedding"),
    )
    prefix = "t_zfrs_"
    try:
        zone, tables = _once_zone(
            spark, tmp_path, prefix,
            (base.filter(F.col("vec_id") < 190),
             base.filter(F.col("vec_id") >= 190),
             w3),
        )
        table = tables["ivfpq_codes"]
        assert _read_model_meta(zone, IVFPQ_MODEL_DIR)["gen"] == 1

        row = stream_zone_freshness(
            spark, zone, {"ivfpq_codes": (table, IVFPQ_MODEL_DIR)}
        ).collect()[0]

        served = read_ivfpq_codes(spark, table, zone).count()
        # the reader's count IS the live count; 250 vectors × M rows
        assert row["live_rows"] == served == 250 * M
        # dead = the pre-refit sample ids' superseded gen-0 encodes
        n_samples_old = sum(
            1 for i in range(200)
            if i % STRIDE == 0 or i % CB_STRIDE == 0
        )
        assert row["dead_rows"] == n_samples_old * M
        assert row["dead_epochs"] == 0
        assert row["model_gen"] == 1 and row["fit_epoch"] == 2
        assert row["n_epochs"] == 3 and row["last_epoch"] == 2
        assert (
            row["committed_rows"] == row["live_rows"] + row["dead_rows"]
        )

        # the store-once ingest records its deployment in the meta, and
        # the compactor follows it with no flag passed: only the sample
        # ids' superseded encodes drop, every vector is still served
        assert _accretes(_read_model_meta(zone, IVFPQ_MODEL_DIR))
        compact_model_zone(
            spark, table, zone, "ivfpq_codes", IVFPQ_MODEL_DIR,
            n_buckets=4, extra_partition_cols=("cluster_id",),
        )
        assert read_ivfpq_codes(spark, table, zone).count() == 250 * M
        row = stream_zone_freshness(
            spark, zone, {"ivfpq_codes": (table, IVFPQ_MODEL_DIR)}
        ).collect()[0]
        assert row["live_rows"] == row["committed_rows"] == 250 * M
        assert row["dead_rows"] == 0 and row["n_epochs"] == 1

        # counts-shaped zone under a model dir (no model_gen column —
        # the BPE/CMS shape): every committed row live, dead_epochs 0,
        # gen/fit_epoch still from the meta
        fs = stream_zone_freshness(
            spark, zone,
            {"fit_sample": (tables["fit_sample"], IVFPQ_MODEL_DIR)},
        ).collect()[0]
        assert fs["model_gen"] == 1 and fs["fit_epoch"] == 2
        assert fs["dead_rows"] == 0 and fs["dead_epochs"] == 0
        assert fs["live_rows"] == fs["committed_rows"] > 0
    finally:
        _drop_tables(spark, prefix)


def test_freshness_clamps_serving_gen_in_crash_window(spark, tmp_path):
    """The freshness row reports the SERVING generation — zone-clamped
    like the reader — so live_rows equals what the reader serves even
    inside a refit's crash window."""
    base = _emb(spark)
    prefix = "t_zfcw2_"
    try:
        zone, tables = _once_zone(
            spark, tmp_path, prefix, (base,)
        )
        table = tables["ivfpq_codes"]
        meta = _read_model_meta(zone, IVFPQ_MODEL_DIR)
        _write_model_meta(zone, IVFPQ_MODEL_DIR, {**meta, "gen": 1})

        row = stream_zone_freshness(
            spark, zone,
            {"ivfpq_codes": (table, IVFPQ_MODEL_DIR)},
        ).collect()[0]
        assert row["model_gen"] == 0  # clamped to max landed gen
        assert row["live_rows"] == 200 * M and row["dead_rows"] == 0
    finally:
        _drop_tables(spark, prefix)


def test_freshness_absent_and_empty_zone_degrade(spark, tmp_path):
    """ADVICE r13 #3: a zone whose manifest dir / catalog table does
    not exist yet must report a well-formed sentinel row (counts 0,
    last_epoch -1) instead of raising — the dashboard has to render
    before the first epoch commits."""
    zone_dir = str(tmp_path / "zone")
    os.makedirs(zone_dir, exist_ok=True)
    rows = stream_zone_freshness(
        spark, zone_dir,
        {
            "not_landed": ("t_zf_no_such_table", None),
            "no_model": ("t_zf_no_such_table2", IVF_MODEL_DIR),
        },
    ).collect()
    assert len(rows) == 2
    for r in rows:
        assert r["n_epochs"] == 0 and r["last_epoch"] == -1
        assert r["committed_rows"] == 0
        assert r["live_rows"] == 0 and r["dead_rows"] == 0
        assert r["dead_epochs"] == 0
        assert r["model_gen"] == -1 and r["fit_epoch"] == -1


@pytest.mark.slow
def test_auto_compact_every_folds_epochs_and_preserves_serving(
    spark, tmp_path
):
    """auto_compact_every=N (r14 — the measured epoch-layout rule
    shipped as a gate knob): the ingest folds each zone back to one
    epoch whenever its committed epoch count reaches N, and the folded
    zone is reader- and serve-identical to the never-compacted twin.
    Six same-distribution waves (encode-only, gen 0) with N=3: the
    epoch count must never exceed 3, and the final multi-gen serve
    must equal the uncompacted twin's exactly."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
        committed_epochs,
        ivfpq_topk_streamed,
    )

    base = _emb(spark, limit=120)
    queries = base.filter(F.col("vec_id") < 5)
    prefix_a, prefix_b = "t_acmp_a_", "t_acmp_b_"
    tabs = {}
    try:
        zones = {}
        for mode, prefix, every in (
            ("auto", prefix_a, 3),
            ("plain", prefix_b, None),
        ):
            raw, zone, ckpt = (
                str(tmp_path / f"{d}_{mode}")
                for d in ("raw", "zone", "ckpt")
            )
            zones[mode] = zone
            for e in range(6):
                wave = base.select(
                    (F.col("vec_id") + F.lit(e * 10_000)).alias(
                        "vec_id"
                    ),
                    "embedding",
                )
                wave.write.mode("append").parquet(raw)
                tabs[mode] = run_embedding_ingest(
                    spark, raw, zone, ckpt,
                    pq=False, ivfpq=True, ivf=False, n_buckets=4,
                    table_prefix=prefix, store_flat_embeddings=False,
                    auto_compact_every=every,
                )
                if every:
                    for zname in ("ivfpq_codes", "fit_sample"):
                        assert (
                            len(committed_epochs(zone, zname)) <= every
                        ), (mode, zname, e)

        # 6 epochs accumulated uncompacted; folded twin sits at 2
        # (compact at 3 -> 1, waves 4-5 -> 3 -> compact -> 1, wave 6 -> 2)
        assert len(committed_epochs(zones["plain"], "ivfpq_codes")) == 6
        assert len(committed_epochs(zones["auto"], "ivfpq_codes")) == 2

        # reader parity: identical live rows
        ka = _codes_key(
            read_ivfpq_codes(
                spark, tabs["auto"]["ivfpq_codes"], zones["auto"],
            )
        )
        kb = _codes_key(
            read_ivfpq_codes(
                spark, tabs["plain"]["ivfpq_codes"], zones["plain"],
            )
        )
        assert ka == kb and len(ka) == 6 * 120 * M

        # serve parity: exact same top-k
        def serve(mode):
            return sorted(
                map(
                    tuple,
                    ivfpq_topk_streamed(
                        spark, tabs[mode]["ivfpq_codes"], zones[mode],
                        queries, k=5,
                    ).collect(),
                )
            )

        assert serve("auto") == serve("plain")
    finally:
        _drop_tables(spark, prefix_a)
        _drop_tables(spark, prefix_b)


def test_auto_compact_every_rejects_bad_values(spark, tmp_path):
    import pytest

    with pytest.raises(ValueError, match="auto_compact_every"):
        run_embedding_ingest(
            spark, str(tmp_path / "r"), str(tmp_path / "z"),
            str(tmp_path / "c"), ivfpq=True, ivf=False, pq=False,
            store_flat_embeddings=False, auto_compact_every=0,
        )


@pytest.mark.slow
def test_auto_compact_interleaves_with_drift_refit(spark, tmp_path):
    """auto_compact_every × drift refit: a fold firing BETWEEN waves
    must not perturb the refit — the refit diet reads the fit_sample
    zone (compaction is reader-identical there too), so the refitted
    model, the reader's live rows, and the multi-gen serve all stay
    exactly equal to the never-compacted twin's."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
        ivfpq_topk_streamed,
    )

    base = _emb(spark, limit=120)
    w3 = base.select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * 100).cast("float")
        ).alias("embedding"),
    )
    waves = (
        base.filter(F.col("vec_id") < 100),
        base.filter(F.col("vec_id") >= 100),
        w3,  # x100 drift -> refit to gen 1 at epoch 2
    )
    queries = base.filter(F.col("vec_id") < 5)
    tabs, zones = {}, {}
    try:
        for mode, every in (("auto", 2), ("plain", None)):
            raw, zone, ckpt = (
                str(tmp_path / f"{d}_{mode}")
                for d in ("raw", "zone", "ckpt")
            )
            zones[mode] = zone
            for wave in waves:
                wave.write.mode("append").parquet(raw)
                tabs[mode] = run_embedding_ingest(
                    spark, raw, zone, ckpt,
                    pq=False, ivfpq=True, ivf=False, n_buckets=4,
                    table_prefix=f"t_acdr_{mode}_",
                    store_flat_embeddings=False,
                    auto_compact_every=every,
                )

        # both twins refit to gen 1 and the models are bit-identical
        for mode in ("auto", "plain"):
            assert (
                _read_model_meta(zones[mode], IVFPQ_MODEL_DIR)["gen"]
                == 1
            ), mode

        ka, kb = (
            _codes_key(
                read_ivfpq_codes(
                    spark, tabs[m]["ivfpq_codes"], zones[m],
                )
            )
            for m in ("auto", "plain")
        )
        assert ka == kb and len(ka) == 240 * M

        serves = [
            sorted(
                map(
                    tuple,
                    ivfpq_topk_streamed(
                        spark, tabs[m]["ivfpq_codes"], zones[m],
                        queries, k=5,
                    ).collect(),
                )
            )
            for m in ("auto", "plain")
        ]
        assert serves[0] == serves[1]
    finally:
        _drop_tables(spark, "t_acdr_auto_")
        _drop_tables(spark, "t_acdr_plain_")


@pytest.mark.slow
def test_corpus_compactors_preserve_every_gate_state(spark, tmp_path):
    """Three corpus-ingest waves through every gate, with each zone
    folded by its own compactor whenever it holds N=2 epochs, must
    leave each zone's epoch count bounded and every served state —
    documents, token grain, kmeans assignment, folded BPE word counts,
    CMS cells, HLL registers — exactly equal to the never-compacted
    twin's (each compactor is the reader's own fold, so this is an
    identity, not a tolerance), with later waves landing on the
    folded zones."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
        KMEANS_MODEL_DIR,
        committed_epochs,
        compact_bpe_word_counts,
        compact_cms_cells,
        compact_hll_registers,
        compact_manifest_zone,
        read_bpe_word_counts,
        read_cluster_assignment,
        read_cms_cells,
        read_hll_registers,
        read_manifest_zone,
        run_corpus_ingest,
    )

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 60)
    )
    waves = (
        docs.filter(F.col("doc_id") % 3 == 0),
        docs.filter(F.col("doc_id") % 3 == 1),
        docs.filter(F.col("doc_id") % 3 == 2),
    )
    # aux zones fold before documents
    folds = {
        "token_events": lambda t, z: compact_manifest_zone(
            spark, t, z, "token_events", n_buckets=4, bucket_col="doc_id"
        ),
        "cluster_assignment": lambda t, z: compact_model_zone(
            spark, t, z, "cluster_assignment", KMEANS_MODEL_DIR,
            n_buckets=4, bucket_col="doc_id",
        ),
        "cms_cells": lambda t, z: compact_cms_cells(spark, t, z, n_buckets=4),
        "hll_registers": lambda t, z: compact_hll_registers(
            spark, t, z, n_buckets=4
        ),
        "bpe_word_counts": lambda t, z: compact_bpe_word_counts(
            spark, t, z, n_buckets=4
        ),
        "documents": lambda t, z: compact_manifest_zone(
            spark, t, z, "documents", n_buckets=4, bucket_col="doc_id"
        ),
    }
    tabs, zones = {}, {}
    try:
        for mode, every in (("auto", 2), ("plain", None)):
            raw, zone, ckpt = (
                str(tmp_path / f"{d}_{mode}")
                for d in ("raw", "zone", "ckpt")
            )
            zones[mode] = zone
            for wave in waves:
                wave.write.mode("append").parquet(raw)
                tabs[mode] = run_corpus_ingest(
                    spark, raw, zone, ckpt,
                    state_refresh=True, cluster_assign=True,
                    sketch_cms=True, sketch_hll=True, learn_bpe=True,
                    n_buckets=4, table_prefix=f"t_cac_{mode}_",
                )
                if every:
                    for zname, fold in folds.items():
                        if len(committed_epochs(zone, zname)) >= every:
                            fold(tabs[mode][zname], zone)
                        assert (
                            len(committed_epochs(zone, zname)) <= every
                        ), (zname,)

        assert (
            len(committed_epochs(zones["plain"], "documents")) == 3
        )

        def rows(df, cols):
            return sorted(
                tuple(r[c] for c in cols) for r in df.collect()
            )

        readers = {
            "documents": lambda m: rows(
                read_manifest_zone(
                    spark,
                    {"documents": tabs[m]["documents"]},
                    zones[m],
                )["documents"],
                ("doc_id", "text"),
            ),
            "grain": lambda m: rows(
                read_manifest_zone(
                    spark,
                    {"token_events": tabs[m]["token_events"]},
                    zones[m],
                )["token_events"],
                ("doc_id", "kind", "s", "h", "h2", "c"),
            ),
            "kmeans": lambda m: rows(
                read_cluster_assignment(
                    spark, tabs[m]["cluster_assignment"], zones[m]
                ),
                ("doc_id", "cluster_id", "dist"),
            ),
            "bpe": lambda m: rows(
                read_bpe_word_counts(
                    spark, tabs[m]["bpe_word_counts"], zones[m]
                ),
                ("word", "n"),
            ),
            "cms": lambda m: rows(
                read_cms_cells(
                    spark, tabs[m]["cms_cells"], zones[m]
                ),
                ("row_i", "col", "cell"),
            ),
            "hll": lambda m: rows(
                read_hll_registers(
                    spark, tabs[m]["hll_registers"], zones[m]
                ),
                ("r_idx", "rho"),
            ),
        }
        for label, fn in readers.items():
            a, b = fn("auto"), fn("plain")
            assert a == b and len(a) > 0, label
    finally:
        _drop_tables(spark, "t_cac_auto_")
        _drop_tables(spark, "t_cac_plain_")
