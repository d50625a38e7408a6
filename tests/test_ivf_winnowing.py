"""Unit tests for the IVF ANN scale path and winnowing fingerprints."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
    ml,
    similarity,
    text,
)


def _emb_df(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
    )


def test_ivf_finds_exact_neighbor_in_probed_cluster(spark):
    # two tight clusters far apart in 4-d; centroids = strided sample
    a = [[1.0, 0.0, 0.0, 0.0], [0.99, 0.01, 0.0, 0.0], [0.98, 0.02, 0.0, 0.0]]
    b = [[0.0, 0.0, 0.0, 1.0], [0.0, 0.01, 0.0, 0.99], [0.0, 0.02, 0.0, 0.98]]
    df = _emb_df(spark, a + b)
    out = similarity.ivf_topk(
        df, df.filter(F.col("vec_id") == 0), n_clusters=2, n_probe=1, k=2, stride=3
    ).collect()
    # centroids are vec 0 (cluster A) and vec 3 (cluster B); query 0
    # probes its own cluster only → neighbors are 1 and 2, ranked by sim
    assert [(r["neighbor_id"], r["sim_rank"]) for r in out] == [(1, 1), (2, 2)]
    assert out[0]["cosine_sim"] > out[1]["cosine_sim"]


def test_kmeans_fixed_quantizer_recovers_separated_clusters(spark):
    """Trained-quantizer option (VERDICT r3 item #9): on a corpus of
    three well-separated directions, ``ml.kmeans_fixed`` Lloyd
    refinement from a BAD seed (all three seeds land in cluster A)
    must still move centroids apart enough that trained-IVF at
    n_probe=1 matches brute force."""
    # 9 vectors: ids 0-2 cluster A, 3-5 cluster B, 6-8 cluster C —
    # kmeans_fixed seeds from the k smallest ids, 0,1,2: ALL in cluster A
    def v(axis, eps):
        base = [0.0, 0.0, 0.0]
        base[axis] = 1.0
        base[(axis + 1) % 3] = eps
        return base

    vecs = [v(axis, 0.01 * j) for axis in range(3) for j in range(3)]
    df = _emb_df(spark, vecs)
    cent = ml.kmeans_fixed(
        df, k=3, iterations=3, dim=3, id_col="vec_id",
        vec_col="embedding", return_centroids=True,
    )
    rows = cent.collect()
    assert len(rows) == 3
    assert all(len(r["centroid_vec"]) == 3 for r in rows)
    # after refinement the three centroids point at distinct axes
    axes = sorted(
        max(range(3), key=lambda i: r["centroid_vec"][i]) for r in rows
    )
    assert axes == [0, 1, 2]
    # trained quantizer at n_probe=1: every query's own cluster is the
    # probed list → top-2 = its 2 same-cluster neighbors (brute truth)
    out = similarity.ivf_topk(
        df, df, n_clusters=3, n_probe=1, k=2, centroids=cent
    )
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    expected = {
        q: {m for m in range(3 * (q // 3), 3 * (q // 3) + 3) if m != q}
        for q in range(9)
    }
    assert got == expected


def test_srp_multitable_recall_monotone(spark):
    """OR-construction guarantee: with 2 hash tables the candidate set
    is a superset of table 0's (same planes), so each query's top-k by
    true cosine is element-wise no worse — mean returned cosine per
    query must be monotonically ≥ the single-table run."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.sources.readers import (
        load_testdata,
    )

    emb = load_testdata(spark, "/root/testdata/sf0.001", ("embeddings",))[
        "embeddings"
    ]
    q = emb.filter(F.col("vec_id") < 10)

    def by_rank(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], {})[r["sim_rank"]] = r["cosine_sim"]
        return out

    one = by_rank(similarity.srp_topk(emb, q, dim=64, k=5, n_planes=8))
    two = by_rank(
        similarity.srp_topk(emb, q, dim=64, k=5, n_planes=8, n_tables=2)
    )
    assert set(one) <= set(two)  # more tables can only add covered queries
    # a query can have FEWER than k single-table candidates; the
    # guarantee is per-rank: candidate superset ⇒ the i-th best cosine
    # with 2 tables is ≥ the i-th best with 1 table, for every rank the
    # single-table run filled
    for qid, ranks in one.items():
        for rank, cos1 in ranks.items():
            assert two[qid][rank] >= cos1 - 1e-9, (qid, rank)


def test_winnowing_shared_substring_shares_fingerprints(spark):
    shared = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (0, f"PREFIX ALPHA {shared}", "en", "s", 1),
            (1, f"{shared} SUFFIX OMEGA", "en", "s", 1),
            (2, "entirely unrelated content with different words", "en", "s", 1),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    fp = text.winnowing_fingerprints(docs, k=5, window=4)
    sets = {
        r["doc_id"]: set(r["fps"])
        for r in fp.groupBy("doc_id").agg(F.collect_set("fingerprint").alias("fps")).collect()
    }
    overlap_01 = len(sets[0] & sets[1]) / min(len(sets[0]), len(sets[1]))
    overlap_02 = len(sets[0] & sets[2]) / min(len(sets[0]), len(sets[2]))
    # winnowing guarantees shared fingerprints for a long shared run
    assert overlap_01 > 0.5
    assert overlap_02 < 0.1


def test_winnowing_arrow_bit_identical_to_relational(spark):
    """The Arrow-batched formulation must reproduce the relational
    (oracle-mirroring) one exactly — same rows, same values — on the
    real corpus, including whitespace/short-doc edge cases."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    edge = spark.createDataFrame(
        [
            (100001, "  tiny  ", "en", "s", 1),          # below k+window-1
            (100002, "ab\tcd\n ef  gh ij kl", "en", "s", 1),  # mixed \s runs
            (100003, "", "en", "s", 1),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs = docs.unionByName(edge)
    rel = {
        (r["doc_id"], r["fingerprint"])
        for r in text.winnowing_fingerprints(docs, k=5, window=4).collect()
    }
    arw = {
        (r["doc_id"], r["fingerprint"])
        for r in text.winnowing_fingerprints_arrow(docs, k=5, window=4).collect()
    }
    assert rel == arw
    assert len(rel) > 1000  # non-vacuous


def test_winnowing_density_guarantee(spark):
    # at least one fingerprint per (window + k - 1)-char stretch
    n, k, w = 200, 5, 4
    docs = spark.createDataFrame(
        [(0, "abcdefghij" * (n // 10), "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    count = text.winnowing_fingerprints(docs, k=k, window=w).count()
    assert count >= 1


# --- product quantization (ADC) tier ----------------------------------


def test_pq_codebook_slices_strided_sample(spark):
    # dim=4, m=2 subspaces of 2; stride=2 → sample ids 0,2 (first 2)
    vecs = [
        [1.0, 2.0, 3.0, 4.0],
        [9.0, 9.0, 9.0, 9.0],
        [5.0, 6.0, 7.0, 8.0],
        [9.0, 9.0, 9.0, 9.0],
    ]
    cb = similarity.pq_codebook(
        _emb_df(spark, vecs), n_subspaces=2, n_codes=2, dim=4, stride=2
    ).collect()
    got = {(r["s"], r["j"]): r["cw"] for r in cb}
    assert got == {
        (0, 0): [1.0, 2.0],
        (1, 0): [3.0, 4.0],
        (0, 2): [5.0, 6.0],
        (1, 2): [7.0, 8.0],
    }


def test_pq_encode_picks_nearest_codeword_per_subspace(spark):
    # codewords (from ids 0,1): s0 ∈ {[1,0],[0,1]}, s1 ∈ {[0,1],[1,0]}
    vecs = [
        [1.0, 0.0, 0.0, 1.0],  # codebook row j=0
        [0.0, 1.0, 1.0, 0.0],  # codebook row j=1
        [0.9, 0.1, 0.2, 0.8],  # nearest: s0→j0, s1→j0
        [0.1, 0.9, 0.7, 0.3],  # nearest: s0→j1, s1→j1
    ]
    df = _emb_df(spark, vecs)
    cb = similarity.pq_codebook(df, n_subspaces=2, n_codes=2, dim=4, stride=1)
    codes = {
        (r["vec_id"], r["s"]): r["code"]
        for r in similarity.pq_encode(df, cb, n_subspaces=2, dim=4).collect()
    }
    assert codes[(2, 0)] == 0 and codes[(2, 1)] == 0
    assert codes[(3, 0)] == 1 and codes[(3, 1)] == 1


def test_pq_topk_ranks_same_cell_neighbor_first(spark):
    # query 2 quantizes to the same codes as 0 and as vec 2 itself;
    # its ADC score against any vector sharing its cell is identical,
    # so the top hit is the lowest-id same-cell neighbor (vec 0)
    vecs = [
        [1.0, 0.0, 0.0, 1.0],
        [0.0, 1.0, 1.0, 0.0],
        [0.9, 0.1, 0.2, 0.8],
        [0.1, 0.9, 0.7, 0.3],
    ]
    df = _emb_df(spark, vecs)
    out = similarity.pq_topk(
        df,
        df.filter(F.col("vec_id") == 2),
        n_subspaces=2,
        n_codes=2,
        dim=4,
        k=3,
        stride=1,
    ).collect()
    assert [r["neighbor_id"] for r in out] == [0, 1, 3]
    # ADC scores depend only on the neighbor's CELL: 1 and 3 share
    # codes (s0→j1, s1→j1)? no — 1 IS codeword j1, 3 encodes to j1 too
    assert out[1]["cosine_sim"] == out[2]["cosine_sim"]


def test_pq_topk_served_codes_match_inline(spark):
    vecs = [
        [float((i * 7 + j * 3) % 5) for j in range(4)] for i in range(12)
    ]
    df = _emb_df(spark, vecs)
    kw = dict(n_subspaces=2, n_codes=4, dim=4, k=4, stride=3)
    cb = similarity.pq_codebook(
        df, n_subspaces=2, n_codes=4, dim=4, stride=3
    )
    codes = similarity.pq_encode(df, cb, n_subspaces=2, dim=4)
    q = df.filter(F.col("vec_id") < 2)
    inline = similarity.pq_topk(df, q, **kw).collect()
    served = similarity.pq_topk(df, q, codebook=cb, codes=codes, **kw).collect()
    key = lambda r: (r["query_id"], r["sim_rank"])
    assert sorted(map(tuple, inline)) == sorted(map(tuple, served))


def test_ivfpq_model_shapes_and_single_cell_per_vector(spark):
    vecs = [
        [float((i * 7 + j * 3) % 5) for j in range(4)] for i in range(12)
    ]
    df = _emb_df(spark, vecs)
    cent, cb, codes = similarity.ivfpq_model(
        df, n_clusters=2, n_subspaces=2, n_codes=3, dim=4,
        stride=5, cb_stride=4,
    )
    assert cent.count() == 2
    # residual codebook: m * n_codes rows, each cw a sub-dim slice
    cb_rows = cb.collect()
    assert len(cb_rows) == 2 * 3
    assert all(len(r["cw"]) == 2 for r in cb_rows)
    # codes: exactly one (cluster, code) per (vector, subspace)
    code_rows = codes.collect()
    assert len(code_rows) == 12 * 2
    cells = {}
    for r in code_rows:
        cells.setdefault(r["vec_id"], set()).add(r["cluster_id"])
    assert all(len(c) == 1 for c in cells.values())


def test_ivfpq_neighbors_come_from_probed_cells_only(spark):
    # two tight clusters far apart; centroids = strided ids 0 and 3
    a = [[1.0, 0.0, 0.0, 0.0], [0.99, 0.01, 0.0, 0.0], [0.98, 0.02, 0.0, 0.0]]
    b = [[0.0, 0.0, 0.0, 1.0], [0.0, 0.01, 0.0, 0.99], [0.0, 0.02, 0.0, 0.98]]
    df = _emb_df(spark, a + b)
    out = similarity.ivfpq_topk(
        df, df.filter(F.col("vec_id") == 0),
        n_clusters=2, n_probe=1, n_subspaces=2, n_codes=6, dim=4, k=5,
        stride=3, cb_stride=1,
    ).collect()
    # query 0 probes its own cell only → cross-cluster ids 3-5 never appear
    assert {r["neighbor_id"] for r in out} == {1, 2}


def test_ivfpq_exact_when_every_residual_is_a_codeword(spark):
    """With cb_stride=1 and n_codes >= |corpus| every corpus residual
    IS a codeword, so the ADC reconstruction x̂ = c + r̂ is exact and
    (at full probe) IVF-PQ must reproduce brute-force cosine top-k to
    the det-round-6 digit."""
    vecs = [
        [float((i * 13 + j * 5) % 7) + 0.25 * j for j in range(4)]
        for i in range(8)
    ]
    df = _emb_df(spark, vecs)
    q = df.filter(F.col("vec_id") < 2)
    approx = similarity.ivfpq_topk(
        df, q, n_clusters=2, n_probe=2, n_subspaces=2, n_codes=8, dim=4,
        k=3, stride=3, cb_stride=1,
    ).collect()
    exact = similarity.brute_force_topk(df, q, k=3).collect()
    key = lambda r: (r["query_id"], r["sim_rank"])
    got = {key(r): (r["neighbor_id"], r["cosine_sim"]) for r in approx}
    want = {key(r): (r["neighbor_id"], r["cosine_sim"]) for r in exact}
    assert set(got) == set(want)
    for kk in want:
        assert got[kk][0] == want[kk][0], (kk, got[kk], want[kk])
        assert abs(got[kk][1] - want[kk][1]) <= 1e-6


def test_ivfpq_served_model_matches_inline(spark):
    vecs = [
        [float((i * 7 + j * 3) % 5) for j in range(4)] for i in range(12)
    ]
    df = _emb_df(spark, vecs)
    kw = dict(n_clusters=2, n_probe=2, n_subspaces=2, n_codes=3, dim=4,
              k=4, stride=5, cb_stride=4)
    cent, cb, codes = similarity.ivfpq_model(
        df, n_clusters=2, n_subspaces=2, n_codes=3, dim=4,
        stride=5, cb_stride=4,
    )
    q = df.filter(F.col("vec_id") < 2)
    inline = similarity.ivfpq_topk(df, q, **kw).collect()
    served = similarity.ivfpq_topk(
        df, q, centroids=cent, codebook=cb, codes=codes, **kw
    ).collect()
    assert sorted(map(tuple, inline)) == sorted(map(tuple, served))


def test_ivfpq_partitioned_codes_probe_join_file_prunes(spark, tmp_path):
    """The inverted-list layout claim, plan-asserted (r11): codes
    landed PARTITIONED BY cluster_id make the serving scan's
    ``codes ⋈ broadcast(probes)`` join trigger dynamic partition
    pruning — the codes FileScan carries a
    ``dynamicpruningexpression`` PartitionFilter, so only the probed
    cells' files are read (the n_probe/n_clusters read-fraction lever
    at 100 TB) — and the pruned plan's results are identical to the
    flat layout's."""
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).filter(F.col("vec_id") < 200)
    cent, cb, codes = similarity.ivfpq_model(emb)
    codes.write.partitionBy("cluster_id").parquet(str(tmp_path / "codes"))
    codes_p = spark.read.parquet(str(tmp_path / "codes"))
    q = emb.filter(F.col("vec_id") < 3)
    out = similarity.ivfpq_topk(
        emb, q, k=4, centroids=cent, codebook=cb, codes=codes_p
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the executed-plan rendering shows the inserted filter as
    # "dynamicpruning#N" (sometimes "dynamicpruningexpression(...)"
    # depending on subquery reuse) — match the stable prefix
    assert "dynamicpruning" in plan.lower(), (
        f"probe join did not trigger DPP on the partitioned codes "
        f"zone:\n{plan[:4000]}"
    )
    flat = similarity.ivfpq_topk(
        emb, q, k=4, centroids=cent, codebook=cb, codes=codes
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, flat.collect())
    )


def test_ivfpq_centroid_schema_accepted_both_ways(spark):
    """ADVICE r10: the coarse-centroid contract is normalized — both
    entry points accept the vector column as either ``cvec``
    (ivfpq_model's own output) or ``centroid_vec`` (a trained
    kmeans_fixed table), in every partial-serving combination:
    model's centroids re-fed to ivfpq_model, a kmeans-style table fed
    straight to ivfpq_topk beside pre-built codes, and both renames
    of the same table producing identical rankings."""
    vecs = [
        [float((i * 7 + j * 3) % 5) for j in range(4)] for i in range(12)
    ]
    df = _emb_df(spark, vecs)
    kw = dict(n_clusters=2, n_probe=2, n_subspaces=2, n_codes=3, dim=4,
              k=4, stride=5, cb_stride=4)
    cent, cb, codes = similarity.ivfpq_model(
        df, n_clusters=2, n_subspaces=2, n_codes=3, dim=4,
        stride=5, cb_stride=4,
    )
    q = df.filter(F.col("vec_id") < 2)
    want = sorted(
        map(tuple, similarity.ivfpq_topk(df, q, **kw).collect())
    )
    as_kmeans = cent.select(
        "cid", F.col("cvec").alias("centroid_vec")
    )
    # ivfpq_model accepts its OWN centroids output (cvec) back
    _, cb2, codes2 = similarity.ivfpq_model(
        df, n_clusters=2, n_subspaces=2, n_codes=3, dim=4,
        stride=5, cb_stride=4, centroids=cent,
    )
    assert sorted(
        map(
            tuple,
            similarity.ivfpq_topk(
                df, q, centroids=cent, codebook=cb2, codes=codes2, **kw
            ).collect(),
        )
    ) == want
    # ivfpq_topk accepts a kmeans-style table (centroid_vec) beside
    # pre-built codes from the SAME cells
    assert sorted(
        map(
            tuple,
            similarity.ivfpq_topk(
                df, q, centroids=as_kmeans, codebook=cb, codes=codes,
                **kw,
            ).collect(),
        )
    ) == want


@pytest.mark.slow
def test_streamed_zones_probe_join_file_prunes(spark, tmp_path):
    """VERDICT r11 #1 (the two perf-weak entries): the STREAMING-
    landed IVF/IVFPQ zones carry the same cluster_id-partitioned
    inverted-list file layout the batch zone got in r11 — serving
    top-k from the streamed zone triggers dynamic partition pruning
    on the probe join (only the probed cells' files are read), and
    the pruned results equal the in-plan forms."""
    import os

    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
        read_ivf_centroids,
        read_ivf_lists,
        read_ivfpq_codes,
        read_ivfpq_model,
        run_embedding_ingest,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 200)
    )
    raw, zone, ckpt = (str(tmp_path / d) for d in ("raw", "zone", "ckpt"))
    emb.write.mode("overwrite").parquet(raw)
    prefix = "t_dpp_stream_"
    tables = {}
    try:
        tables = run_embedding_ingest(
            spark, raw, zone, ckpt,
            pq=False, ivf=True, ivfpq=True, n_buckets=4,
            table_prefix=prefix,
        )
        q = emb.filter(F.col("vec_id") < 3)

        # IVFPQ: ADC scan over the streamed codes zone
        cent, cb = read_ivfpq_model(spark, zone)
        codes = read_ivfpq_codes(spark, tables["ivfpq_codes"], zone)
        out = similarity.ivfpq_topk(
            emb, q, k=4, centroids=cent, codebook=cb, codes=codes
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), (
            f"streamed ivfpq_codes scan is not file-pruned:"
            f"\n{plan[:4000]}"
        )
        flat = similarity.ivfpq_topk(emb, q, k=4)
        assert sorted(map(tuple, out.collect())) == sorted(
            map(tuple, flat.collect())
        )

        # IVF-Flat: top-k over the streamed inverted lists
        cents = read_ivf_centroids(spark, zone)
        lists = read_ivf_lists(spark, tables["ivf_assign"], zone)
        out2 = similarity.ivf_topk(
            emb, q, k=4, centroids=cents, lists=lists
        )
        plan2 = out2._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan2.lower(), (
            f"streamed ivf_assign lists scan is not file-pruned:"
            f"\n{plan2[:4000]}"
        )
        flat2 = similarity.ivf_topk(emb, q, k=4, centroids=cents)
        assert sorted(map(tuple, out2.collect())) == sorted(
            map(tuple, flat2.collect())
        )
    finally:
        for t in tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_batch_ivf_state_serve_file_prunes(spark):
    """r12: the batch `_ivf_model_zone` lands inverted lists
    (cluster_id-partitioned) beside the trained quantizer, and the
    registered ann_ivf_trained_state serve reads them with dynamic
    partition pruning — the batch path gets the same
    n_probe/n_clusters read-fraction lever as the streamed twin (and
    never rescans the embeddings table for the corpus side)."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.queries import (
        QUERIES,
    )

    out = QUERIES["ann_ivf_trained_state"](
        spark, "/root/testdata/sf0.001"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), (
        f"batch ivf_lists scan is not file-pruned:\n{plan[:4000]}"
    )


def test_rerank_state_serve_file_prunes(spark):
    """The refine deployment's ADC shortlist stage inherits the
    landed-model DPP lever: the registered ann_ivfpq_rerank_state
    plan's codes scan must still carry the dynamicpruning partition
    filter — the rerank join must not have broken the probe-side
    pruning that makes the shortlist stage cheap."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.queries import (
        QUERIES,
    )

    out = QUERIES["ann_ivfpq_rerank_state"](
        spark, "/root/testdata/sf0.001"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), (
        f"rerank_state codes scan is not file-pruned:\n{plan[:4000]}"
    )


def test_cell_affine_groups_packing_rules():
    """The batched-serving grouping rule (VERDICT r12 #4): identical
    probe signatures merge, unions never exceed max_cells, ordering is
    deterministic, and a single query probing more than max_cells
    cells is rejected rather than silently split."""
    import pytest

    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators.similarity import (
        cell_affine_groups,
    )

    # three queries sharing one signature, one disjoint straggler
    rows = (
        [(1, c) for c in (0, 1, 2, 3)]
        + [(2, c) for c in (0, 1, 2, 3)]
        + [(7, c) for c in (1, 2, 3, 4)]
        + [(9, c) for c in (10, 11, 12, 13)]
    )
    groups = cell_affine_groups(rows, max_cells=5)
    assert groups == [
        ([1, 2, 7], [0, 1, 2, 3, 4]),
        ([9], [10, 11, 12, 13]),
    ]
    # tighter cap: the overlapping third query no longer fits
    groups = cell_affine_groups(rows, max_cells=4)
    assert groups == [
        ([1, 2], [0, 1, 2, 3]),
        ([7], [1, 2, 3, 4]),
        ([9], [10, 11, 12, 13]),
    ]
    # input order never matters (signature sort is the order)
    assert cell_affine_groups(list(reversed(rows)), 4) == groups
    with pytest.raises(ValueError, match="raise max_cells"):
        cell_affine_groups(rows, max_cells=3)


def test_ivf_topk_landed_lists_and_probe_assignments(spark, tmp_path):
    """Serving from a landed cluster_id-partitioned lists zone is
    result-identical to the in-plan form, and the probe-assignment
    helper (the batching seam ``cell_affine_groups`` routes on)
    returns exactly n_probe cells per query, deterministically."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators.similarity import (
        ivf_list_assign,
        ivf_probe_assignments,
        ivf_topk,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 200)
    )
    queries = emb.filter(F.col("vec_id").isin([3, 18, 57, 111, 160]))

    def key(df):
        return sorted(map(tuple, df.collect()))

    # served from a landed cluster_id-partitioned lists zone
    cent = (
        emb.filter(F.col("vec_id") % 29 == 0)
        .orderBy("vec_id")
        .limit(16)
        .select(
            F.col("vec_id").alias("cid"),
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "centroid_vec"
            ),
        )
    )
    lists = ivf_list_assign(emb, cent)
    zone = str(tmp_path / "lists")
    lists.write.partitionBy("cluster_id").parquet(zone)
    landed = spark.read.schema(
        "vec_id long, embedding array<double>, cluster_id long"
    ).parquet(zone)
    in_plan = ivf_topk(emb, queries, n_probe=4, k=5, centroids=cent)
    plain_z = ivf_topk(
        emb, queries, n_probe=4, k=5, centroids=cent, lists=landed
    )
    assert key(plain_z) == key(in_plan)

    # the probe helper returns exactly n_probe cells per query, and
    # re-running it is deterministic
    probes = ivf_probe_assignments(queries, cent, n_probe=4)
    rows = probes.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], set()).add(r["cluster_id"])
    assert set(per_q) == {3, 18, 57, 111, 160}
    assert all(len(cs) == 4 for cs in per_q.values())
    assert sorted(map(tuple, rows)) == sorted(
        map(tuple, ivf_probe_assignments(queries, cent, n_probe=4).collect())
    )


def test_store_once_multigen_serve_file_prunes(spark, tmp_path):
    """r13: the IVFPQ-only store-once zone's multi-generation serve
    keeps dynamic partition pruning — the retained-sample live filter
    is a pure predicate (no per-vector window), so each generation's
    ADC scan still file-prunes to the probed cells. Asserted on a
    post-drift zone where BOTH generations are live."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
        ivfpq_topk_streamed,
        run_embedding_ingest,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 200)
    )
    drift = emb.select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * 100).cast("float")
        ).alias("embedding"),
    )
    raw, zone, ckpt = (str(tmp_path / d) for d in ("raw", "zone", "ckpt"))
    prefix = "t_dpp_once_"
    tables = {}
    try:
        for wave in (emb, drift):
            wave.write.mode("append").parquet(raw)
            tables = run_embedding_ingest(
                spark, raw, zone, ckpt,
                pq=False, ivfpq=True, ivf=False, n_buckets=4,
                table_prefix=prefix, store_flat_embeddings=False,
            )
        out = ivfpq_topk_streamed(
            spark, tables["ivfpq_codes"], zone,
            emb.filter(F.col("vec_id") < 3), k=4,
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.lower().count("dynamicpruning") >= 2, (
            f"multi-gen store-once serve lost file pruning:"
            f"\n{plan[:4000]}"
        )
        # r14 structural claim: the generation-as-data serve reads the
        # codes zone in ONE scan for ALL live generations — the r13
        # loop-of-chains shape planned one scan per generation (the
        # measured 1.2 s/gen plan constant)
        n_code_scans = sum(
            1
            for line in plan.splitlines()
            if "ivfpq_codes" in line and "Scan" in line
        )
        assert n_code_scans == 1, (
            f"expected ONE codes-zone scan for the multi-gen serve, "
            f"found {n_code_scans}:\n{plan[:4000]}"
        )
        assert out.count() > 0
    finally:
        for t in tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_rerank_streamed_deployment_rule(spark, tmp_path):
    """VERDICT r14 #3, decided by measurement and enforced in code:
    store-once = ADC-only serving; rerank requires
    ``store_flat_embeddings=True``. The store-once zone (no flat
    table) must fail LOUDLY at the rerank seam — never silently serve
    ADC-grade results under a rerank name — and the flat deployment's
    streamed rerank must equal the batch refine form bit-for-bit
    (single-batch delivery reproduces the strided fit)."""
    import pytest

    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators.similarity import (
        ivfpq_rerank_topk,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
        ivfpq_rerank_topk_streamed,
        run_embedding_ingest,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 200)
    )
    queries = emb.filter(F.col("vec_id") < 5)
    key = lambda df: sorted(map(tuple, df.collect()))
    tables: dict[str, str] = {}
    tables2: dict[str, str] = {}
    try:
        # store-once zone: rerank refuses, names the rule
        raw, zone, ckpt = (
            str(tmp_path / d) for d in ("raw", "zone", "ckpt")
        )
        emb.write.mode("overwrite").parquet(raw)
        tables = run_embedding_ingest(
            spark, raw, zone, ckpt,
            pq=False, ivfpq=True, ivf=False, n_buckets=4,
            table_prefix="t_rr_once_", store_flat_embeddings=False,
        )
        with pytest.raises(ValueError, match="ADC-only serving"):
            ivfpq_rerank_topk_streamed(
                spark, tables["ivfpq_codes"], zone, queries,
            )

        # flat deployment: streamed rerank ≡ the batch refine form
        raw2, zone2, ckpt2 = (
            str(tmp_path / d) for d in ("raw2", "zone2", "ckpt2")
        )
        emb.write.mode("overwrite").parquet(raw2)
        tables2 = run_embedding_ingest(
            spark, raw2, zone2, ckpt2,
            pq=False, ivfpq=True, n_buckets=4,
            table_prefix="t_rr_flat_", store_flat_embeddings=True,
        )
        streamed = ivfpq_rerank_topk_streamed(
            spark, tables2["ivfpq_codes"], zone2, queries,
            flat_table=tables2["embeddings"], shortlist=20, k=5,
        )
        batch = ivfpq_rerank_topk(emb, queries, shortlist=20, k=5)
        assert key(streamed) == key(batch)
    finally:
        for t in {**tables, **tables2}.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")
