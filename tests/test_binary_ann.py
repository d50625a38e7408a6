"""Binary quantization (1 bit/dim Hamming shortlist + exact rerank).

Value contracts:
* thresholds are the exact per-dim means under the decimal-sum /
  det-round discipline (hand-recomputed on a crafted table);
* codes pack bit ``j`` iff ``vec[j] >= threshold[j]`` (hand-checked
  words, both halves, including the boundary-equality bit);
* a corpus-sized shortlist makes the serve exactly brute force (the
  rerank stage is the exact metric, so only shortlist membership is
  approximate);
* the landed-zone serve (thresholds + codes through parquet) is
  row-identical to the in-plan fit;
* hamming column is consistent with the codes it shortlisted by.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
    similarity,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_thresholds_are_per_dim_means(spark):
    rows = [
        (1, [1.0, -2.0, 0.5, 0.0]),
        (2, [3.0, 2.0, 0.5, 0.0]),
        (3, [2.0, 0.0, -1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r["dim_idx"]: r["threshold"]
        for r in similarity.binary_thresholds(df).collect()
    }
    assert got == {1: 2.0, 2: 0.0, 3: 0.0, 4: 0.0}


def test_codes_pack_expected_bits(spark):
    # 2 dims above threshold (dims 1, 33), one AT the threshold (dim 2,
    # x == t counts as set), rest below.
    vec = [0.0] * 64
    vec[0] = 5.0   # dim 1  -> lo bit 0
    vec[32] = 5.0  # dim 33 -> hi bit 0
    base = [0.0] * 64
    base[1] = -2.0  # drags dim-2 mean below zero; doc A sits at 0.0 == its own x
    rows = [(1, vec), (2, base)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    thr = similarity.binary_thresholds(df)
    codes = {
        r["vec_id"]: (r["code_lo"], r["code_hi"])
        for r in similarity.binary_encode(df, thr).collect()
    }
    # thresholds: dim1=2.5, dim2=-1.0, dim33=2.5, others 0.0
    # vec row: dims >= t at dim1 (5>=2.5), dim2 (0>=-1), every other
    # zero dim (0>=0) EXCEPT none below... all zero dims have t=0 and
    # x=0 -> bit set.  So expected lo = all 32 bits set; hi likewise.
    assert codes[1] == ((1 << 32) - 1, (1 << 32) - 1)
    # base row: dim1 0 < 2.5 -> clear; dim2 -2 < -1 -> clear;
    # dim33 0 < 2.5 -> clear; all other zero dims set.
    assert codes[2] == ((1 << 32) - 1 - 0b11, (1 << 32) - 2)


def test_full_shortlist_is_brute_force(spark, emb):
    """shortlist >= corpus ⇒ rerank scores every candidate with the
    exact metric, so the serve must equal brute_force_topk."""
    n = emb.count()
    q = emb.filter(F.col("vec_id") < 5)
    exact = similarity.brute_force_topk(emb, q, k=5)
    bq = similarity.binary_topk(emb, q, k=5, shortlist=n).drop("hamming")
    assert exact.exceptAll(bq).count() == 0
    assert bq.exceptAll(exact).count() == 0


def test_state_twin_matches_inplan(spark, emb, tmp_path):
    q = emb.filter(F.col("vec_id") < 5)
    inplan = similarity.binary_topk(emb, q, k=5, shortlist=30)
    thr = similarity.binary_thresholds(emb)
    thr.write.parquet(str(tmp_path / "thr"))
    thr_l = spark.read.parquet(str(tmp_path / "thr"))
    similarity.binary_encode(emb, thr_l).write.parquet(str(tmp_path / "codes"))
    codes_l = spark.read.parquet(str(tmp_path / "codes"))
    landed = similarity.binary_topk(
        emb, q, k=5, shortlist=30, thresholds=thr_l, codes=codes_l
    )
    assert inplan.exceptAll(landed).count() == 0
    assert landed.exceptAll(inplan).count() == 0


def test_hamming_matches_codes(spark, emb):
    """The hamming column equals the popcount of the XOR of the two
    packed codes for every returned pair."""
    q = emb.filter(F.col("vec_id") < 3)
    thr = similarity.binary_thresholds(emb)
    codes = similarity.binary_encode(emb, thr)
    out = similarity.binary_topk(
        emb, q, k=5, shortlist=30, thresholds=thr, codes=codes
    )
    joined = (
        out.join(
            codes.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("code_lo").alias("nlo"),
                F.col("code_hi").alias("nhi"),
            ),
            "neighbor_id",
        )
        .join(
            codes.select(
                F.col("vec_id").alias("query_id"),
                F.col("code_lo").alias("qlo"),
                F.col("code_hi").alias("qhi"),
            ),
            "query_id",
        )
        .filter(
            F.col("hamming")
            != F.bit_count(F.col("nlo").bitwiseXOR(F.col("qlo")))
            + F.bit_count(F.col("nhi").bitwiseXOR(F.col("qhi")))
        )
    )
    assert joined.count() == 0


def test_dim_cap_raises(spark, emb):
    thr = similarity.binary_thresholds(emb)
    with pytest.raises(ValueError, match="64"):
        similarity.binary_encode(emb, thr, dim=65)


def test_ivf_binary_probe_all_full_shortlist_is_brute_force(spark, emb):
    """n_probe = n_clusters (every cell probed) + corpus-sized
    shortlist ⇒ IVF prunes nothing and the rerank is exact, so the
    composed serve must equal brute_force_topk."""
    n = emb.count()
    q = emb.filter(F.col("vec_id") < 5)
    exact = similarity.brute_force_topk(emb, q, k=5)
    comp = similarity.ivf_binary_topk(
        emb, q, k=5, shortlist=n, n_clusters=16, n_probe=16
    ).drop("hamming")
    assert exact.exceptAll(comp).count() == 0
    assert comp.exceptAll(exact).count() == 0


def test_ivf_binary_candidates_come_from_probed_cells(spark, emb):
    """Every returned neighbor must live in one of its query's probed
    cells (the IVF contract survives the Hamming stage)."""
    q = emb.filter(F.col("vec_id") < 5)
    cent = (
        emb.filter(F.col("vec_id") % 29 == 0)
        .orderBy(F.col("vec_id"))
        .limit(16)
        .select(
            F.col("vec_id").cast("long").alias("cid"),
            similarity.as_double(F.col("embedding")).alias("centroid_vec"),
        )
    )
    probes = similarity.ivf_probe_assignments(q, cent, n_probe=4)
    member = similarity.ivf_list_assign(emb, cent).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("cluster_id").alias("n_cell"),
    )
    out = similarity.ivf_binary_topk(
        emb, q, k=5, shortlist=30, n_clusters=16, n_probe=4
    )
    escaped = (
        out.join(member, "neighbor_id")
        .join(
            probes.select(
                "query_id", F.col("cluster_id").alias("n_cell")
            ),
            ["query_id", "n_cell"],
            "left_semi",
        )
    )
    assert escaped.count() == out.count()


def test_ivf_binary_state_twin_matches_inplan(spark, emb, tmp_path):
    q = emb.filter(F.col("vec_id") < 5)
    inplan = similarity.ivf_binary_topk(
        emb, q, k=5, shortlist=30, n_clusters=16, n_probe=4
    )
    cent = (
        emb.filter(F.col("vec_id") % 29 == 0)
        .orderBy(F.col("vec_id"))
        .limit(16)
        .select(
            F.col("vec_id").cast("long").alias("cid"),
            similarity.as_double(F.col("embedding")).alias("centroid_vec"),
        )
    )
    cent.write.parquet(str(tmp_path / "cent"))
    cent_l = spark.read.parquet(str(tmp_path / "cent"))
    thr = similarity.binary_thresholds(emb)
    thr.write.parquet(str(tmp_path / "thr"))
    thr_l = spark.read.parquet(str(tmp_path / "thr"))
    codes = similarity.binary_encode(emb, thr_l)
    lists = similarity.ivf_list_assign(
        emb.select("vec_id", "embedding").join(codes, "vec_id"),
        cent_l,
        keep_cols=("code_lo", "code_hi"),
    )
    lists.write.partitionBy("cluster_id").parquet(str(tmp_path / "lists"))
    lists_l = spark.read.parquet(str(tmp_path / "lists"))
    landed = similarity.ivf_binary_topk(
        emb, q, k=5, shortlist=30, n_clusters=16, n_probe=4,
        centroids=cent_l, thresholds=thr_l, lists=lists_l,
    )
    assert inplan.exceptAll(landed).count() == 0
    assert landed.exceptAll(inplan).count() == 0


def test_ivf_binary_state_plan_prunes_columns_and_partitions(
    spark, emb, tmp_path
):
    """The composed serve's claim, pinned in the plan: ONE lists-zone
    FileScan that is simultaneously column-pruned to the packed codes
    (ReadSchema without the vector column — the 24 B/vector lever) and
    partition-pruned to the probed cells (dynamicpruningexpression —
    the n_probe/n_clusters lever). Plan inspected BEFORE execution
    (post-collect AQE plans duplicate FileScans)."""
    cent = (
        emb.filter(F.col("vec_id") % 29 == 0)
        .orderBy(F.col("vec_id"))
        .limit(16)
        .select(
            F.col("vec_id").cast("long").alias("cid"),
            similarity.as_double(F.col("embedding")).alias("centroid_vec"),
        )
    )
    thr = similarity.binary_thresholds(emb)
    codes = similarity.binary_encode(emb, thr)
    lists = similarity.ivf_list_assign(
        emb.select("vec_id", "embedding").join(codes, "vec_id"),
        cent,
        keep_cols=("code_lo", "code_hi"),
    )
    zone = str(tmp_path / "lists")
    lists.write.partitionBy("cluster_id").parquet(zone)
    zlists = spark.read.parquet(zone)
    served = similarity.ivf_binary_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=5, shortlist=30,
        centroids=cent, thresholds=thr, lists=zlists,
    )
    plan = served._jdf.queryExecution().executedPlan().toString()
    # the lists zone is the only scan that READS the packed codes (the
    # embeddings scan derives them in-plan); match on ReadSchema, never
    # on the Location path, which Spark truncates at
    # spark.sql.maxMetadataStringLength
    zone_scans = [
        ln for ln in plan.splitlines()
        if "FileScan" in ln
        and "code_lo" in ln.split("ReadSchema:", 1)[-1]
    ]
    assert zone_scans, f"no code-bearing lists scan in plan:\n{plan[:3000]}"
    for ln in zone_scans:
        # column pruning: the Hamming stage must not read the vector
        rs = ln.split("ReadSchema:", 1)[-1]
        assert "embedding" not in rs, f"vector column not pruned:\n{ln}"
    assert "dynamicpruning" in plan.lower(), (
        "probe join lost its partition pruning on the lists zone"
    )
