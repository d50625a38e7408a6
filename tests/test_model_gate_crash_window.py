"""Crash-window replay for every streaming model gate.

Each gate writes its model and ``_model_meta.json`` (recording
``fit_epoch``) BEFORE its zone's epoch commits. A crash in between
leaves the meta naming an epoch whose codes never committed; the
restart redelivers that batch and the gate must redo the recorded fit
— same generation, same meta, same landed rows. These tests cut
exactly that window, for a gen-0 fit epoch and for a gen-1 drift-refit
epoch, by deleting the epoch's commit markers for the gate zone and
every zone that lands after it, plus the stream checkpoint's commit
for the batch (so the restart replays it with the same offsets).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
    BINARY_MODEL_DIR,
    BPE_MODEL_DIR,
    IVF_MODEL_DIR,
    IVFPQ_MODEL_DIR,
    KMEANS_MODEL_DIR,
    PQ_MODEL_DIR,
    _read_model_meta,
    committed_epochs,
    read_manifest_zone,
    run_corpus_ingest,
    run_embedding_ingest,
)

from test_streaming_pq import SF

# gate -> (zone it lands, model dir, primary zone landing after it)
GATES = {
    "pq": ("pq_codes", PQ_MODEL_DIR, "embeddings"),
    "binary": ("binary_codes", BINARY_MODEL_DIR, "embeddings"),
    "ivfpq": ("ivfpq_codes", IVFPQ_MODEL_DIR, "embeddings"),
    "ivf": ("ivf_assign", IVF_MODEL_DIR, "embeddings"),
    "cluster": ("cluster_assignment", KMEANS_MODEL_DIR, "documents"),
    "bpe": ("bpe_word_counts", BPE_MODEL_DIR, "documents"),
}


def _waves(spark, gate):
    """(fit wave, refit wave) input frames for a gate."""
    if gate in ("cluster", "bpe"):
        docs = (
            spark.read.parquet(f"{SF}/documents.parquet")
            .select("doc_id", "text")
            .filter(F.col("doc_id") < 60)
        )
        return (
            docs.filter(F.col("doc_id") % 2 == 0),
            docs.filter(F.col("doc_id") % 2 == 1),
        )
    emb = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 200)
    )
    scaled = emb.filter(F.col("vec_id") >= 150).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform("embedding", lambda x: (x * 100).cast("float")).alias(
            "embedding"
        ),
    )
    return emb, scaled


def _ingest(spark, gate, raw, zone, ckpt, prefix, drift_refit_factor):
    if gate in ("cluster", "bpe"):
        return run_corpus_ingest(
            spark, raw, zone, ckpt,
            state_refresh=True,
            cluster_assign=gate == "cluster",
            learn_bpe=gate == "bpe",
            drift_refit_factor=drift_refit_factor,
            n_buckets=4, table_prefix=prefix,
        )
    return run_embedding_ingest(
        spark, raw, zone, ckpt,
        pq=gate == "pq",
        binary=gate == "binary",
        ivfpq=gate == "ivfpq",
        ivf=gate == "ivf",
        drift_refit_factor=drift_refit_factor,
        n_buckets=4, table_prefix=prefix,
    )


def _hashable(v):
    return tuple(v) if isinstance(v, list) else v


def _rows(spark, tables, zone, zname):
    df = read_manifest_zone(spark, {zname: tables[zname]}, zone)[zname]
    return sorted(
        tuple(_hashable(v) for v in r) for r in df.collect()
    )


def _cut_crash_window(zone, ckpt, zones, epoch_id):
    """Undo the commits a crash between the meta write and the gate
    zone's commit would never have made."""
    for zname in zones:
        os.remove(os.path.join(zone, "_manifest", zname, f"{epoch_id}.json"))
    for f in (str(epoch_id), f".{epoch_id}.crc"):  # the log + its checksum
        p = os.path.join(ckpt, "commits", f)
        if os.path.exists(p):
            os.remove(p)


@pytest.mark.slow
@pytest.mark.parametrize("gate", sorted(GATES))
def test_gate_crash_window_replays_the_recorded_fit(spark, tmp_path, gate):
    zname, model_dir, primary = GATES[gate]
    raw, zone, ckpt = (str(tmp_path / d) for d in ("raw", "zone", "ckpt"))
    prefix = f"t_crash_{gate}_"
    tables = {}
    fit_wave, refit_wave = _waves(spark, gate)
    try:
        # epoch 0 fits gen 0; epoch 1 is forced past the drift factor
        # and refits gen 1
        for epoch_id, (wave, factor) in enumerate(
            ((fit_wave, None), (refit_wave, 1e-9))
        ):
            wave.write.mode("append").parquet(raw)
            tables = _ingest(spark, gate, raw, zone, ckpt, prefix, factor)
            meta = _read_model_meta(zone, model_dir)
            assert meta["gen"] == epoch_id
            assert meta["fit_epoch"] == epoch_id
            rows = _rows(spark, tables, zone, zname)
            assert rows

            _cut_crash_window(zone, ckpt, (zname, primary), epoch_id)
            assert epoch_id not in committed_epochs(zone, zname)
            _ingest(spark, gate, raw, zone, ckpt, prefix, factor)

            assert epoch_id in committed_epochs(zone, zname)
            assert epoch_id in committed_epochs(zone, primary)
            assert _read_model_meta(zone, model_dir) == meta
            assert _rows(spark, tables, zone, zname) == rows
    finally:
        for t in tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")
