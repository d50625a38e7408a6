"""Streaming twin of the batch cluster-assignment seam (VERDICT r9
#5): run_corpus_ingest(cluster_assign=True) fits on the first epoch,
serves later epochs against the landed centroids, refits on drift —
and every state it lands is replay-parity-exact vs the batch seam
(kmeans_fixed over the same corpus)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
    corpus_state,
    ml,
    text,
)
from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
    KMEANS_MODEL_DIR,
    _read_model_meta,
    read_cluster_assignment,
    read_kmeans_centroids,
    run_corpus_ingest,
)

SF = "/root/testdata/sf0.001"


def _docs(spark, limit=60):
    return (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .limit(limit)
    )


def _key(df):
    return sorted(tuple(r) for r in df.collect())


def _batch_seam(spark, docs, zone):
    """The batch cluster seam exactly as _cluster_state_zone builds it:
    grain -> fh_vectors -> kmeans_fixed(k=4, iterations=3, dim=64)."""
    states = corpus_state.refresh_corpus_state(
        docs, zone, only=("fh_vectors",)
    )
    return ml.kmeans_fixed(states["fh_vectors"], k=4, iterations=3, dim=64)


@pytest.mark.slow
def test_cluster_gate_single_epoch_matches_batch_seam(spark, tmp_path):
    """One delivery = one epoch: the gate's gen-0 fit runs on exactly
    the corpus the batch seam fits on, so the landed assignment is
    bit-identical to kmeans_fixed's."""
    raw, zone, ckpt = (
        str(tmp_path / d) for d in ("raw", "zone", "ckpt")
    )
    prefix = "t_clus1_"
    tables = {}
    try:
        docs = _docs(spark)
        docs.write.mode("append").parquet(raw)
        tables = run_corpus_ingest(
            spark, raw, zone, ckpt,
            state_refresh=True, cluster_assign=True,
            n_buckets=4, table_prefix=prefix,
        )
        assert "cluster_assignment" in tables
        got = _key(
            read_cluster_assignment(
                spark, tables["cluster_assignment"], zone
            )
        )
        want = _key(
            _batch_seam(spark, docs, str(tmp_path / "batch_zone"))
        )
        assert got == want and len(got) == 60
        meta = _read_model_meta(zone, KMEANS_MODEL_DIR)
        assert meta["gen"] == 0 and meta["fit_mean_dist"] is not None
        assert read_kmeans_centroids(spark, zone).count() == 4
    finally:
        for t in tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


@pytest.mark.slow
def test_cluster_gate_incremental_then_drift_refit(spark, tmp_path):
    """Three waves: wave 1 fits (gen 0); wave 2 is ASSIGNED against
    the frozen landed centroids (no refit — exactly kmeans_assign's
    output, model meta untouched); wave 3 arrives under a forced
    drift threshold, the model refits on the full committed grain
    (gen 1) and the full reassignment equals the BATCH seam over all
    three waves — the replay-parity contract. A final replayed run is
    a no-op."""
    raw, zone, ckpt = (
        str(tmp_path / d) for d in ("raw", "zone", "ckpt")
    )
    prefix = "t_clus3_"
    tables = {}
    try:
        base = _docs(spark)
        w1 = base.filter(F.col("doc_id") % 3 == 0)
        w2 = base.filter(F.col("doc_id") % 3 == 1)
        w3 = base.filter(F.col("doc_id") % 3 == 2)

        w1.write.mode("append").parquet(raw)
        tables = run_corpus_ingest(
            spark, raw, zone, ckpt,
            state_refresh=True, cluster_assign=True,
            n_buckets=4, table_prefix=prefix,
        )
        assert _read_model_meta(zone, KMEANS_MODEL_DIR)["gen"] == 0
        cents0 = read_kmeans_centroids(spark, zone)

        # wave 2: steady state — assign-only against gen-0 centroids
        w2.write.mode("append").parquet(raw)
        run_corpus_ingest(
            spark, raw, zone, ckpt,
            state_refresh=True, cluster_assign=True,
            n_buckets=4, table_prefix=prefix,
        )
        meta = _read_model_meta(zone, KMEANS_MODEL_DIR)
        assert meta["gen"] == 0  # no refit
        got_all = read_cluster_assignment(
            spark, tables["cluster_assignment"], zone
        )
        w2_ids = {r["doc_id"] for r in w2.select("doc_id").collect()}
        got_w2 = _key(
            got_all.filter(F.col("doc_id").isin(sorted(w2_ids)))
        )
        want_w2 = _key(
            ml.kmeans_assign(
                text.feature_hash_vectors(w2, dim=64), cents0
            )
        )
        assert got_w2 == want_w2 and len(got_w2) == len(w2_ids)
        assert got_all.count() == w1.count() + w2.count()

        # wave 3: forced drift -> full-grain refit, gen bumps, and the
        # landed assignment equals the batch seam over ALL docs
        w3.write.mode("append").parquet(raw)
        run_corpus_ingest(
            spark, raw, zone, ckpt,
            state_refresh=True, cluster_assign=True,
            drift_refit_factor=1e-9,
            n_buckets=4, table_prefix=prefix,
        )
        meta = _read_model_meta(zone, KMEANS_MODEL_DIR)
        assert meta["gen"] == 1
        got = _key(
            read_cluster_assignment(
                spark, tables["cluster_assignment"], zone
            )
        )
        want = _key(
            _batch_seam(spark, base, str(tmp_path / "batch_zone"))
        )
        assert got == want and len(got) == 60
        assert os.path.isdir(os.path.join(zone, "kmeans_model", "gen=1"))

        # replay: nothing new — assignment, meta, and gen unchanged
        run_corpus_ingest(
            spark, raw, zone, ckpt,
            state_refresh=True, cluster_assign=True,
            n_buckets=4, table_prefix=prefix,
        )
        assert _read_model_meta(zone, KMEANS_MODEL_DIR)["gen"] == 1
        assert (
            _key(
                read_cluster_assignment(
                    spark, tables["cluster_assignment"], zone
                )
            )
            == got
        )
    finally:
        for t in tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_cluster_gate_requires_state_refresh(spark, tmp_path):
    with pytest.raises(ValueError, match="state_refresh"):
        run_corpus_ingest(
            spark,
            str(tmp_path / "raw"),
            str(tmp_path / "zone"),
            str(tmp_path / "ckpt"),
            cluster_assign=True,
        )
