"""Single-scan multi-state corpus ingest (VERDICT r7 #1): one
documents scan maintains the term / feature / shingle / vector state
tables; every derived state is row-exact vs its independent
scan-based operator, and the same grain function run as a stream
replays to the same grain."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
    corpus_state,
    curation,
    text,
)

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )


def _key(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def state(spark, tmp_path_factory):
    zone = str(tmp_path_factory.mktemp("corpus_state_zone"))
    return corpus_state.refresh_corpus_state(
        _docs(spark), zone, n_buckets=512, dim=64, shingle_n=5
    ), zone


def test_term_state_matches_scan_based_grain(spark, state):
    """The 't' slice equals ``text.doc_term_counts``, the (doc_id,
    term, tf) grain lm_perplexity builds from raw text."""
    tables, _ = state
    want = text.doc_term_counts(_docs(spark))
    assert _key(tables["term_state"]) == _key(want)
    assert len(_key(tables["term_state"])) > 0


def test_feature_state_matches_hashed_ngram_features(spark, state):
    """The t+b slices re-hashed per bucket equal
    ``curation.doc_feature_counts``, the hashed-ngram (doc_id, bucket,
    c_doc) grain dsir_importance_weights scores from."""
    tables, _ = state
    want = curation.doc_feature_counts(_docs(spark), n_buckets=512)
    assert _key(tables["feature_state"]) == _key(want)


def test_shingle_state_matches_ngram_novelty_grain(spark, state):
    """The 's' slice hashed to 48 bits equals
    ``text.doc_shingle_counts``, ngram_novelty's (doc_id, _h, _tf)
    grain — so the audit derived from the state is row-exact vs the
    scan-based operator."""
    tables, _ = state
    docs = _docs(spark)
    assert _key(tables["shingle_state"]) == _key(text.doc_shingle_counts(docs, n=5))
    got = _key(text.ngram_novelty_from_shingle_state(tables["shingle_state"]))
    want = _key(text.ngram_novelty(docs, n=5))
    assert got == want and len(got) > 0


def test_vectors_match_feature_hash_vectors_bitwise(spark, state):
    """Summing c×sign per distinct term is the same integer
    arithmetic as summing sign per occurrence: the normalized doubles
    are bit-identical to feature_hash_vectors."""
    tables, _ = state
    docs = _docs(spark)
    got = {
        r["doc_id"]: tuple(r["feature_vec"])
        for r in tables["fh_vectors"].collect()
    }
    want = {
        r["doc_id"]: tuple(r["feature_vec"])
        for r in text.feature_hash_vectors(docs, dim=64).collect()
    }
    assert got == want and len(got) > 0


def test_downstream_consumers_green_from_state(spark, state):
    """The landed states drop straight into every from-state
    consumer: BM25, LM perplexity, DSIR, and the memorization audit
    all match their scan-based twins."""
    tables, _ = state
    docs = _docs(spark)
    q = ["the", "data", "order"]
    assert _key(text.bm25_from_term_state(tables["term_state"], q, k=10)) == _key(
        text.bm25_topk(docs, q, k=10)
    )
    assert _key(
        text.lm_perplexity_from_term_state(tables["term_state"])
    ) == _key(text.lm_perplexity(docs))
    tgt = (
        curation.hashed_ngram_features(docs.limit(50), "doc_id", 512)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c_tgt"))
    )
    assert _key(
        curation.dsir_from_feature_state(
            tables["feature_state"], tgt, n_buckets=512, k=20
        )
    ) == _key(
        curation.dsir_importance_weights(
            docs, docs.limit(50), n_buckets=512, k=20
        )
    )


def test_refresh_scans_corpus_exactly_once(spark, state, tmp_path):
    """The one-scan property, plan-asserted: the event-grain job is
    the ONLY plan touching the documents parquet (exactly one
    FileScan of it), and every state derivation reads the landed
    event grain (zero documents scans)."""
    docs = _docs(spark)
    event_plan = (
        corpus_state.token_event_counts(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert len(re.findall(r"FileScan parquet[^\n]*documents", event_plan)) == 1

    tables, _ = state
    for name in ("term_state", "feature_state", "shingle_state", "fh_vectors"):
        plan = (
            tables[name]._jdf.queryExecution().executedPlan().toString()
        )
        assert not re.findall(r"FileScan parquet[^\n]*documents", plan), name


def test_state_zone_is_recorded_in_manifest(spark, state):
    """Every LANDED state table self-describes through the zone
    manifest (the view states are partition-pruned slices of the
    grain — nothing extra on disk to describe), and the grain records
    its kind-partitioning so readers prune from the manifest alone."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.sinks.files import (
        zone_table_layout,
    )

    _, zone = state
    for name in corpus_state.LANDED_TABLES:
        spec = zone_table_layout(zone, name)
        assert spec and spec["layout"] == "flat", name
    assert zone_table_layout(zone, "token_events")["partition_by"] == ["kind"]


def test_view_states_are_partition_pruned(spark, state):
    """term_state / shingle_state are views over the kind-partitioned
    grain: their plans scan ONLY the matching kind directory
    (PartitionFilters on kind — the pruned-slice contract that makes
    not landing them free)."""
    tables, _ = state
    for name, kind in (("term_state", "t"), ("shingle_state", "s")):
        plan = tables[name]._jdf.queryExecution().executedPlan().toString()
        assert re.search(rf"kind#\d+ = {kind}\)", plan), (name, plan)


def test_read_corpus_state_roundtrip(spark, state):
    """read_corpus_state reconstructs the full dict from disk alone —
    landed tables and view states both row-exact."""
    tables, zone = state
    back = corpus_state.read_corpus_state(spark, zone)
    assert set(back) == set(corpus_state.STATE_TABLES)
    for name in ("term_state", "feature_state", "shingle_state"):
        assert _key(back[name]) == _key(tables[name]), name


def test_streaming_twin_full_replay_parity(spark, state, tmp_path):
    """``corpus_state.token_event_counts`` run as an update-mode
    stream and replayed over the corpus yields the identical
    (doc_id, kind, s, h, h2, c) grain as the batch pass — so ONE
    stateful stream serves all four state families."""
    docs = _docs(spark)
    src = str(tmp_path / "ces_src")
    docs.write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        corpus_state.token_event_counts(stream, shingle_n=5)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("token_events_out")
        .option("checkpointLocation", str(tmp_path / "ck_ces"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    snap = str(tmp_path / "ces_snapshot")
    spark.sql(
        "SELECT doc_id, kind, s, h, h2, MAX(c) AS c FROM token_events_out "
        "GROUP BY doc_id, kind, s, h, h2"
    ).write.parquet(snap)
    streamed = spark.read.parquet(snap)
    tables, _ = state
    assert _key(streamed) == _key(tables["token_events"])
    # and the derivations from the streamed state match the batch ones
    assert _key(
        corpus_state.term_state_from_event_counts(streamed)
    ) == _key(tables["term_state"])
    assert _key(
        corpus_state.vectors_from_event_counts(streamed, dim=64)
    ) == _key(tables["fh_vectors"])


def test_registered_state_variants_compose_from_state_zone(spark):
    """The registered dsir_selection_state / curation_funnel_state
    plans scan the landed state tables, not re-derived corpus text:
    dsir's final plan reads feature_state parquet and touches the
    documents parquet only through the narrow (doc_id, source) slice
    that picks the target; the funnel's plan reads shingle_state for
    the novelty signal."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.queries import (
        QUERIES,
    )

    dsir = QUERIES["dsir_selection_state"](spark, SF)
    plan = dsir._jdf.queryExecution().executedPlan().toString()
    assert "feature_state" in plan
    doc_scans = re.findall(r"FileScan parquet[^\n]*documents[^\n]*", plan)
    for scan in doc_scans:
        assert "text" not in scan, scan  # only the (doc_id, source) slice

    funnel = QUERIES["curation_funnel_state"](spark, SF)
    fplan = funnel._jdf.queryExecution().executedPlan().toString()
    # novelty now reads the 's' partition of the grain (the
    # shingle-state view), not a re-derived corpus scan
    assert re.search(r"kind#\d+ = s\)", fplan), fplan


def test_lm_perplexity_bigram_from_state_matches_scan_operator(spark, state):
    """VERDICT r8 #3: the hash-keyed bigram LM scored from the grain's
    'b' slice (model ct2 keyed by (h, h2), marginal ct1 by h2) is
    row-exact vs the string-keyed scan operator — md5_48 is injective
    on this corpus's bigrams and contexts, so the counts, the
    det-round-8 contributions, and the per-doc roll-up all agree."""
    tables, _ = state
    docs = _docs(spark)
    got = _key(
        text.lm_perplexity_bigram_from_state(
            tables["token_events"], threshold=35.0
        )
    )
    want = _key(text.lm_perplexity_bigram(docs, threshold=35.0))
    assert got == want and len(got) > 0


def test_grain_version_gate(spark, state, tmp_path):
    """ADVICE r9: a token_events zone landed under an older grain
    schema must not be read (old 'b' rows would surface h2=null and
    silently merge all bigram contexts) nor appended to by a resumed
    state-refresh ingest. The gate: a v2 zone round-trips and carries
    the version marker; a v1-shaped zone (no h2 column) raises
    rebuild-required from both read_corpus_state and
    run_corpus_ingest(state_refresh=True); a stale marker raises even
    when files are unreadable."""
    import json
    import os

    _tables, zone = state
    # the refresh stamped the current version
    mp = os.path.join(zone, corpus_state.GRAIN_VERSION_FILE)
    with open(mp) as f:
        assert (
            json.load(f)["grain_schema_version"]
            == corpus_state.GRAIN_SCHEMA_VERSION
        )

    # v1-shaped zone: grain parquet WITHOUT h2, no marker
    old_zone = str(tmp_path / "old_zone")
    v1 = (
        corpus_state.token_event_counts(_docs(spark))
        .drop("h2")
        .limit(50)
    )
    v1.write.parquet(os.path.join(old_zone, "token_events"))
    with pytest.raises(RuntimeError, match="rebuild"):
        corpus_state.read_corpus_state(spark, old_zone)
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming import (
        pipeline,
    )

    with pytest.raises(RuntimeError, match="rebuild"):
        pipeline.run_corpus_ingest(
            spark,
            raw_dir=str(tmp_path / "raw"),
            zone_dir=old_zone,
            checkpoint_dir=str(tmp_path / "ckpt"),
            state_refresh=True,
            table_prefix="grainver_",
        )

    # stale marker: explicit version mismatch beats schema sniffing
    stale_zone = str(tmp_path / "stale_zone")
    os.makedirs(stale_zone)
    with open(
        os.path.join(stale_zone, corpus_state.GRAIN_VERSION_FILE), "w"
    ) as f:
        json.dump({"grain_schema_version": 1}, f)
    with pytest.raises(RuntimeError, match="schema v1"):
        corpus_state.check_grain_version(stale_zone)

    # pre-versioning zone whose schema is ALREADY current: adopted
    adopt_zone = str(tmp_path / "adopt_zone")
    corpus_state.token_event_counts(_docs(spark)).limit(50).write.parquet(
        os.path.join(adopt_zone, "token_events")
    )
    corpus_state.check_grain_version(adopt_zone)
    assert os.path.isfile(
        os.path.join(adopt_zone, corpus_state.GRAIN_VERSION_FILE)
    )
