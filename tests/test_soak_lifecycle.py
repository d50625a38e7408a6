"""Multi-epoch soak of the full ingest composition (VERDICT r11 #7):
every individual gate is lifecycle-tested in its own file; this
drives ~20 epochs through run_corpus_ingest with ALL gates and
run_embedding_ingest with all three model gates, with mid-run forced
drift refits, periodic compaction + vacuum, a crash-replay no-op,
and end-state parity of every maintained zone against its batch
derivation over the same (kept) rows."""

from __future__ import annotations

import os

import pytest

import pyspark.sql.functions as F

# the soak tier replays many-epoch ingest lifecycles end to end —
# minutes per test by design; deselected from the default run so
# `pytest tests/` fits the driver's verify window (run via -m slow)
pytestmark = pytest.mark.slow

from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
    ml,
    text,
)
from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators.similarity import (
    as_double,
    ivf_list_assign,
    ivfpq_model,
    pq_encode,
)
from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
    BPE_MODEL_DIR,
    IVF_MODEL_DIR,
    IVFPQ_MODEL_DIR,
    KMEANS_MODEL_DIR,
    _read_model_meta,
    committed_epochs,
    compact_bpe_word_counts,
    compact_cms_cells,
    compact_hll_registers,
    compact_model_zone,
    read_bpe_model,
    read_bpe_word_counts,
    read_cluster_assignment,
    read_cms_cells,
    read_hll_registers,
    read_ivf_centroids,
    read_ivf_lists,
    read_ivfpq_codes,
    read_ivfpq_model,
    read_kmeans_centroids,
    read_manifest_zone,
    read_pq_codebook,
    read_pq_codes,
    run_corpus_ingest,
    run_embedding_ingest,
    vacuum_manifest_zone,
)

SF = "/root/testdata/sf0.001"
N_WAVES = 20
DRIFT_WAVE = 10


def _key(df):
    return sorted(tuple(r) for r in df.collect())


def _parquet_files(zone_dir: str) -> int:
    n = 0
    for root, _dirs, files in os.walk(zone_dir):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def test_corpus_ingest_soak_all_gates(spark, tmp_path):
    """20 epochs through every corpus gate at once (decontamination,
    exact + semantic dedup, grain, cluster, CMS, HLL, BPE), forced
    drift at epoch 10, compaction + vacuum at epochs 6 and 13, replay
    at the end. Every mergeable zone must equal its batch derivation
    over the KEPT docs; every model zone must equal the batch fit
    over the grain its meta says it fit on, with post-fit epochs
    served against the landed model; no probe 5-gram survives into
    any landed document."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators.curation import (
        contamination_probes,
    )

    raw, zone, ckpt = (str(tmp_path / d) for d in ("raw", "zone", "ckpt"))
    prefix = "t_soak_c_"
    tables = {}

    base_all = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
    )
    probes = contamination_probes(base_all, every=50, probe_tokens=5)

    def ingest(**kw):
        return run_corpus_ingest(
            spark, raw, zone, ckpt,
            decontaminate_probes=probes,
            exact_dedup=True, semantic_dedup=True, state_refresh=True,
            cluster_assign=True, sketch_cms=True, sketch_hll=True,
            learn_bpe=True, threshold=0.95, n_buckets=4,
            table_prefix=prefix, **kw,
        )

    try:
        base = base_all
        for w in range(N_WAVES):
            base.filter(
                (F.col("doc_id") >= w * 25) & (F.col("doc_id") < (w + 1) * 25)
            ).write.mode("append").parquet(raw)
            tables = ingest(
                drift_refit_factor=1e-9 if w == DRIFT_WAVE else 2.0
            )
            if w in (6, 13):
                compact_cms_cells(
                    spark, tables["cms_cells"], zone, n_buckets=4
                )
                compact_hll_registers(
                    spark, tables["hll_registers"], zone, n_buckets=4
                )
                compact_bpe_word_counts(
                    spark, tables["bpe_word_counts"], zone, n_buckets=4
                )
                for t, nb in (("cms_cells", 4), ("hll_registers", 4)):
                    vacuum_manifest_zone(
                        spark, tables[t], zone, t, min_age_seconds=0
                    )

        # ---- end-state parity, all from the LANDED kept docs -------
        kept = read_manifest_zone(
            spark, {"documents": tables["documents"]}, zone
        )["documents"].select("doc_id", "text")
        n_kept = kept.count()
        assert 0 < n_kept <= 500

        # the decontamination gate's invariant: no landed doc contains
        # a probe 5-gram (case-insensitively, at any position)
        from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators.dedup import (
            shingles,
        )

        kept_grams = kept.select(
            F.explode(shingles(F.col("text"), 5)).alias("g")
        )
        leaked = kept_grams.join(
            probes.select(F.col("probe").alias("g")), "g"
        )
        assert leaked.count() == 0

        # mergeable sketch zones == batch builds over the kept docs
        terms = kept.select(
            F.explode(text.tokens(F.lower(F.col("text")))).alias("term")
        )
        batch_counts = terms.groupBy("term").agg(
            F.count(F.lit(1)).cast("long").alias("n_true")
        )
        assert _key(
            read_cms_cells(spark, tables["cms_cells"], zone)
        ) == _key(
            text.cms_cells_from_term_counts(batch_counts, width=1024, depth=4)
        )
        assert _key(
            read_hll_registers(spark, tables["hll_registers"], zone)
        ) == _key(text.hll_registers_from_terms(terms, p=10))
        words = (
            batch_counts.filter(F.col("term").rlike("^[a-z0-9]+$"))
            .select(
                F.col("term").alias("word"),
                F.col("n_true").alias("n"),
            )
        )
        assert _key(
            read_bpe_word_counts(spark, tables["bpe_word_counts"], zone)
        ) == _key(words)

        # drift refits actually happened mid-run
        k_meta = _read_model_meta(zone, KMEANS_MODEL_DIR)
        b_meta = _read_model_meta(zone, BPE_MODEL_DIR)
        assert k_meta["gen"] >= 1 and k_meta["fit_epoch"] >= DRIFT_WAVE
        assert b_meta["gen"] >= 1 and b_meta["fit_epoch"] >= DRIFT_WAVE

        # BPE model == batch learn over the counts as of its fit epoch
        fit_docs = read_manifest_zone(
            spark, {"documents": tables["documents"]}, zone,
            as_of_epoch=b_meta["fit_epoch"],
        )["documents"]
        fit_words = (
            fit_docs.select(
                F.explode(
                    text.tokens(F.lower(F.col("text")))
                ).alias("word")
            )
            .filter(F.col("word").rlike("^[a-z0-9]+$"))
            .groupBy("word")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        want_m, _want_v = text.bpe_learn_merges_from_words(
            fit_words, str(tmp_path / "bpe_batch"), n_merges=8,
            return_vocab=True,
        )
        assert _key(read_bpe_model(spark, zone)[0]) == _key(want_m)

        # cluster model == batch fit over the grain as of ITS fit
        # epoch; the full assignment zone covers exactly the kept docs
        from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators.corpus_state import (
            vectors_from_event_counts,
        )

        fit_grain = read_manifest_zone(
            spark, {"token_events": tables["token_events"]}, zone,
            as_of_epoch=k_meta["fit_epoch"],
        )["token_events"]
        want_cents = ml.kmeans_fixed(
            vectors_from_event_counts(
                fit_grain.select("doc_id", "kind", "s", "h", "h2", "c"),
                dim=64,
            ),
            return_centroids=True,
        )
        cents = read_kmeans_centroids(spark, zone)
        assert sorted(
            (r["cid"], tuple(r["centroid_vec"])) for r in cents.collect()
        ) == sorted(
            (r["cid"], tuple(r["centroid_vec"]))
            for r in want_cents.collect()
        )
        assign = read_cluster_assignment(
            spark, tables["cluster_assignment"], zone
        )
        assert assign.count() == n_kept
        assert {r["doc_id"] for r in assign.select("doc_id").collect()} == {
            r["doc_id"] for r in kept.select("doc_id").collect()
        }

        # compaction + dead-generation drop leave bounded state: fold
        # everything once more and count files
        compact_cms_cells(spark, tables["cms_cells"], zone, n_buckets=4)
        compact_hll_registers(
            spark, tables["hll_registers"], zone, n_buckets=4
        )
        compact_bpe_word_counts(
            spark, tables["bpe_word_counts"], zone, n_buckets=4
        )
        compact_model_zone(
            spark, tables["cluster_assignment"], zone,
            "cluster_assignment", KMEANS_MODEL_DIR, n_buckets=4,
            bucket_col="doc_id",
        )
        from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
            compact_manifest_zone,
        )

        for t, bcol in (
            ("documents", "doc_id"),
            ("token_events", "doc_id"),
            ("doc_vectors", "doc_id"),
            ("neardup_pairs", "vec_a"),
        ):
            compact_manifest_zone(
                spark, tables[t], zone, t, n_buckets=4, bucket_col=bcol
            )
        for t in tables:
            vacuum_manifest_zone(
                spark, tables[t], zone, t, min_age_seconds=0
            )
            assert len(committed_epochs(zone, t)) == 1
        # bounded state after the full maintenance pass: every zone is
        # one epoch of ≤ n_buckets files (+ the tiny model dirs), not
        # 20 epochs × buckets — the small-files story holds under the
        # composed lifecycle, not just per-gate
        assert _parquet_files(zone) < 120
        assert _key(
            read_cms_cells(spark, tables["cms_cells"], zone)
        ) == _key(
            text.cms_cells_from_term_counts(batch_counts, width=1024, depth=4)
        )
        assert _key(
            read_bpe_word_counts(spark, tables["bpe_word_counts"], zone)
        ) == _key(words)
        assert assign.count() == n_kept  # reader reflects compacted zone

        # crash-replay: one more run over the same checkpoint is a
        # no-op for every zone
        before = {
            t: sorted(committed_epochs(zone, t))
            for t in tables
        }
        ingest()
        assert before == {
            t: sorted(committed_epochs(zone, t)) for t in tables
        }
        assert _read_model_meta(zone, KMEANS_MODEL_DIR)["gen"] == k_meta["gen"]
        assert _read_model_meta(zone, BPE_MODEL_DIR)["gen"] == b_meta["gen"]
    finally:
        for t in tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_embedding_ingest_soak_all_model_gates(spark, tmp_path):
    """20 epochs through the PQ + IVF + IVFPQ gates at once, forced
    drift at epoch 10, dead-generation compaction + vacuum at the
    end. Regardless of WHEN refits happened, the generation-filtered
    zones must equal the batch encode/assign of ALL delivered vectors
    against the CURRENT landed models (encode is deterministic per
    vector given the model), the DPP layout must survive compaction,
    and a replayed run is a no-op."""
    raw, zone, ckpt = (str(tmp_path / d) for d in ("raw", "zone", "ckpt"))
    prefix = "t_soak_e_"
    tables = {}

    def ingest(**kw):
        return run_embedding_ingest(
            spark, raw, zone, ckpt,
            pq=True, ivf=True, ivfpq=True, n_buckets=4,
            table_prefix=prefix, **kw,
        )

    try:
        base = spark.read.parquet(f"{SF}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        for w in range(N_WAVES):
            base.filter(
                (F.col("vec_id") >= w * 25) & (F.col("vec_id") < (w + 1) * 25)
            ).write.mode("append").parquet(raw)
            tables = ingest(
                drift_refit_factor=1e-9 if w == DRIFT_WAVE else 2.0
            )

        for mdir in (IVF_MODEL_DIR, IVFPQ_MODEL_DIR):
            meta = _read_model_meta(zone, mdir)
            assert meta["gen"] >= 1 and meta["fit_epoch"] >= DRIFT_WAVE

        vecs = base  # all 500 delivered
        dvecs = vecs.select(
            "vec_id", as_double(F.col("embedding")).alias("embedding")
        )

        # PQ: committed codes == batch encode against the landed gen
        cb = read_pq_codebook(spark, zone)
        assert _key(
            read_pq_codes(spark, tables["pq_codes"], zone)
        ) == _key(pq_encode(vecs, cb).select("vec_id", "s", "code"))

        # IVF: lists == search-metric assign against landed centroids
        cents = read_ivf_centroids(spark, zone)
        assert _key(
            read_ivf_lists(spark, tables["ivf_assign"], zone)
            .select("vec_id", "cluster_id")
        ) == _key(
            ivf_list_assign(dvecs, cents).select("vec_id", "cluster_id")
        )

        # IVFPQ: codes == batch encode against the landed model pair
        pcent, pcb = read_ivfpq_model(spark, zone)
        _c, _b, want_codes = ivfpq_model(
            vecs, centroids=pcent, codebook=pcb
        )
        assert _key(
            read_ivfpq_codes(spark, tables["ivfpq_codes"], zone)
        ) == _key(
            want_codes.select("vec_id", "cluster_id", "s", "code")
        )

        # dead-generation compaction + vacuum: one epoch, bounded
        # files, DPP layout (cluster_id dirs) preserved
        compact_model_zone(
            spark, tables["pq_codes"], zone, "pq_codes",
            "pq_model", n_buckets=4,
        )
        compact_model_zone(
            spark, tables["ivf_assign"], zone, "ivf_assign",
            IVF_MODEL_DIR, n_buckets=4,
            extra_partition_cols=("cluster_id",),
        )
        compact_model_zone(
            spark, tables["ivfpq_codes"], zone, "ivfpq_codes",
            IVFPQ_MODEL_DIR, n_buckets=4,
            extra_partition_cols=("cluster_id",),
        )
        from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
            compact_manifest_zone,
        )

        compact_manifest_zone(
            spark, tables["embeddings"], zone, "embeddings",
            n_buckets=4, bucket_col="vec_id",
        )
        for t in ("pq_codes", "ivf_assign", "ivfpq_codes",
                  "embeddings"):
            assert len(committed_epochs(zone, t)) == 1
            vacuum_manifest_zone(
                spark, tables[t], zone, t, min_age_seconds=0
            )
        assert _parquet_files(zone) < 200  # ivf/ivfpq fan out by cell
        from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
            _table_location,
        )

        for t in ("ivf_assign", "ivfpq_codes"):
            loc = _table_location(spark, tables[t])
            eps = [
                d for d in os.listdir(loc) if d.startswith("_epoch=")
            ]
            assert len(eps) == 1
            assert any(
                d.startswith("cluster_id=")
                for d in os.listdir(os.path.join(loc, eps[0]))
            )
        # readers identical after compaction
        assert _key(
            read_ivf_lists(spark, tables["ivf_assign"], zone)
            .select("vec_id", "cluster_id")
        ) == _key(
            ivf_list_assign(dvecs, cents).select("vec_id", "cluster_id")
        )
        assert _key(
            read_pq_codes(spark, tables["pq_codes"], zone)
        ) == _key(pq_encode(vecs, cb).select("vec_id", "s", "code"))

        # crash-replay: no-op
        gens = {
            m: _read_model_meta(zone, m)["gen"]
            for m in (IVF_MODEL_DIR, IVFPQ_MODEL_DIR)
        }
        before = {t: sorted(committed_epochs(zone, t)) for t in tables}
        ingest()
        assert before == {
            t: sorted(committed_epochs(zone, t)) for t in tables
        }
        for m, g in gens.items():
            assert _read_model_meta(zone, m)["gen"] == g
    finally:
        for t in tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_store_once_ivfpq_soak(spark, tmp_path):
    """20 epochs through the IVFPQ-only STORE-ONCE deployment (r13):
    forced drift at epoch 10, so generations accrete mid-run.
    End-state invariants, regardless of when refits fired: the
    retained fit_sample zone holds exactly the delivered strided ids;
    the predicate reader serves every delivered vector EXACTLY once
    (sample ids at the current generation); each generation's rows
    equal the batch encode of those vectors against THAT generation's
    landed model; multi-gen serve returns a full top-k; compaction in
    retained-sample mode drops only superseded sample encodes and is
    reader- and serve-identical; a replayed run is a no-op."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
        ivfpq_topk_streamed,
        read_fit_sample,
    )

    raw, zone, ckpt = (str(tmp_path / d) for d in ("raw", "zone", "ckpt"))
    prefix = "t_soak_once_"
    tables = {}

    def ingest(**kw):
        return run_embedding_ingest(
            spark, raw, zone, ckpt,
            pq=False, ivf=False, ivfpq=True, n_buckets=4,
            table_prefix=prefix, store_flat_embeddings=False, **kw,
        )

    try:
        base = spark.read.parquet(f"{SF}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        for w in range(N_WAVES):
            base.filter(
                (F.col("vec_id") >= w * 25) & (F.col("vec_id") < (w + 1) * 25)
            ).write.mode("append").parquet(raw)
            tables = ingest(
                drift_refit_factor=1e-9 if w == DRIFT_WAVE else 2.0
            )

        meta = _read_model_meta(zone, IVFPQ_MODEL_DIR)
        cur = meta["gen"]
        assert cur >= 1 and meta["fit_epoch"] >= DRIFT_WAVE

        # the retained sample is exactly the delivered strided diet
        assert sorted(
            r["vec_id"]
            for r in read_fit_sample(
                spark, tables["fit_sample"], zone
            ).collect()
        ) == sorted(
            i for i in range(500) if i % 29 == 0 or i % 31 == 0
        )

        # predicate reader: every delivered vector exactly once;
        # sample ids at the current generation
        got = read_ivfpq_codes(
            spark, tables["ivfpq_codes"], zone,
        ).collect()
        per_vec: dict[int, set[int]] = {}
        for r in got:
            per_vec.setdefault(r["vec_id"], set()).add(r["model_gen"])
        assert len(per_vec) == 500 and len(got) == 500 * 4
        for vid, gens in per_vec.items():
            assert len(gens) == 1, (vid, gens)
            if vid % 29 == 0 or vid % 31 == 0:
                assert gens == {cur}, (vid, gens)

        # per-generation parity: each generation's rows equal the
        # batch encode of exactly those vectors against that
        # generation's landed model
        def gen_key(rows):
            return sorted(
                (r["vec_id"], r["s"], r["cluster_id"], r["code"])
                for r in rows
            )

        for g in sorted({r["model_gen"] for r in got}):
            g_rows = [r for r in got if r["model_gen"] == g]
            g_ids = sorted({r["vec_id"] for r in g_rows})
            cent_g, cb_g = read_ivfpq_model(spark, zone, g)
            _c, _b, want = ivfpq_model(
                base.filter(F.col("vec_id").isin(g_ids)),
                centroids=cent_g, codebook=cb_g,
            )
            assert gen_key(g_rows) == gen_key(
                want.select(
                    "vec_id", "cluster_id", "s", "code"
                ).collect()
            ), f"gen {g} rows diverge from batch encode"

        # multi-gen serve: full top-k per query
        queries = base.filter(F.col("vec_id").isin([7, 123, 400]))
        served = ivfpq_topk_streamed(
            spark, tables["ivfpq_codes"], zone, queries, k=5
        )
        rows = served.collect()
        assert len(rows) == 15
        served_key = sorted(map(tuple, rows))

        # compaction (retained-sample mode) + vacuum: one epoch, only
        # superseded sample encodes dropped, reader and serve identical
        before = spark.table(tables["ivfpq_codes"]).count()
        compact_model_zone(
            spark, tables["ivfpq_codes"], zone, "ivfpq_codes",
            IVFPQ_MODEL_DIR, n_buckets=4,
            extra_partition_cols=("cluster_id",),
        )
        assert len(committed_epochs(zone, "ivfpq_codes")) == 1
        after = spark.table(tables["ivfpq_codes"]).count()
        assert after == 500 * 4 <= before
        vacuum_manifest_zone(
            spark, tables["ivfpq_codes"], zone, "ivfpq_codes",
            min_age_seconds=0,
        )
        assert gen_key(
            read_ivfpq_codes(
                spark, tables["ivfpq_codes"], zone,
            ).drop("model_gen").collect()
        ) == gen_key(got)
        assert sorted(
            map(
                tuple,
                ivfpq_topk_streamed(
                    spark, tables["ivfpq_codes"], zone, queries, k=5
                ).collect(),
            )
        ) == served_key

        # crash-replay: no-op
        epochs_before = {
            t: sorted(committed_epochs(zone, t)) for t in tables
        }
        ingest()
        assert epochs_before == {
            t: sorted(committed_epochs(zone, t)) for t in tables
        }
        assert _read_model_meta(zone, IVFPQ_MODEL_DIR)["gen"] == cur

        # auto_compact_every twin (r14, ROADMAP r15 #2): the SAME 20
        # waves with the in-gate fold firing every 4 epochs — folds
        # interleave with the forced drift refit and the epoch count
        # stays bounded, yet the end-state reader rows and the
        # multi-gen serve are exactly the plain zone's, and a replay
        # is still a no-op against the folded manifests
        raw2, zone2, ckpt2 = (
            str(tmp_path / f"{d}_ac") for d in ("raw", "zone", "ckpt")
        )
        tables2 = {}
        try:
            for w in range(N_WAVES):
                base.filter(
                    (F.col("vec_id") >= w * 25)
                    & (F.col("vec_id") < (w + 1) * 25)
                ).write.mode("append").parquet(raw2)
                tables2 = run_embedding_ingest(
                    spark, raw2, zone2, ckpt2,
                    pq=False, ivf=False, ivfpq=True, n_buckets=4,
                    table_prefix="t_soak_once_ac_",
                    store_flat_embeddings=False,
                    auto_compact_every=4,
                    drift_refit_factor=(
                        1e-9 if w == DRIFT_WAVE else 2.0
                    ),
                )
                for zname in ("ivfpq_codes", "fit_sample"):
                    assert (
                        len(committed_epochs(zone2, zname)) <= 4
                    ), (zname, w)
            assert _read_model_meta(zone2, IVFPQ_MODEL_DIR)["gen"] == cur
            assert gen_key(
                read_ivfpq_codes(
                    spark, tables2["ivfpq_codes"], zone2,
                ).drop("model_gen").collect()
            ) == gen_key(got)
            assert sorted(
                map(
                    tuple,
                    ivfpq_topk_streamed(
                        spark, tables2["ivfpq_codes"], zone2,
                        queries, k=5,
                    ).collect(),
                )
            ) == served_key
            ac_epochs = {
                t: sorted(committed_epochs(zone2, t)) for t in tables2
            }
            run_embedding_ingest(
                spark, raw2, zone2, ckpt2,
                pq=False, ivf=False, ivfpq=True, n_buckets=4,
                table_prefix="t_soak_once_ac_",
                store_flat_embeddings=False, auto_compact_every=4,
            )
            assert ac_epochs == {
                t: sorted(committed_epochs(zone2, t)) for t in tables2
            }
        finally:
            for t in tables2.values():
                spark.sql(f"DROP TABLE IF EXISTS {t}")
    finally:
        for t in tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")
