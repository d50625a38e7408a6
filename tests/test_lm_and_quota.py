"""Unit tests for the round-6 additions: the corpus-self-trained
unigram-LM perplexity filter (CCNet-style quality signal) and the
exact per-source quota sampler (domain balancing), plus the z-order
validated-zone pipeline option.

The quota sampler's gate is a full pure-Python mirror of the pipeline
(hash, pre-filter, rank) — the same independent-recomputation
discipline as the DuckDB oracles, so a hash, probability, or ranking
drift fails loudly with the exact divergent rows.
"""

from __future__ import annotations

import hashlib
import math

import pytest

from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
    curation,
    text,
)


def docs_df(spark, rows, sources=None):
    sources = sources or ["src"] * len(rows)
    return spark.createDataFrame(
        [
            (i, t, "en", s, len(t))
            for i, (t, s) in enumerate(zip(rows, sources))
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


# --- lm_perplexity ------------------------------------------------------


def test_lm_perplexity_hand_computed(spark):
    # corpus: tokens a(2) b(1) c(1), N=4
    # doc0 "a a b": probs .5 .5 .25 → ppl = (1/(0.5*0.5*0.25))^(1/3)
    # doc1 "c":     prob .25        → ppl = 4
    out = {
        r["doc_id"]: r
        for r in text.lm_perplexity(docs_df(spark, ["a a b", "c"])).collect()
    }
    assert out[0]["n_tokens"] == 3 and out[1]["n_tokens"] == 1
    assert out[0]["perplexity"] == pytest.approx(16 ** (1 / 3), abs=1e-3)
    assert out[1]["perplexity"] == pytest.approx(4.0, abs=1e-4)
    assert out[0]["avg_logp"] == pytest.approx(
        (2 * math.log(0.5) + math.log(0.25)) / 3, abs=1e-5
    )
    assert not out[0]["high_perplexity"]


def test_lm_perplexity_flags_corpus_atypical_docs(spark):
    # 9 docs of corpus-typical tokens + 1 doc of tokens seen nowhere
    # else: the outlier must carry the highest perplexity
    rows = ["the cat sat on the mat"] * 9 + ["zyx qwv jkl pqr"]
    out = text.lm_perplexity(docs_df(spark, rows)).collect()
    by_ppl = sorted(out, key=lambda r: r["perplexity"])
    assert by_ppl[-1]["doc_id"] == 9
    assert by_ppl[-1]["perplexity"] > 10 * by_ppl[0]["perplexity"]


# --- source_quota_sample ------------------------------------------------


def _mirror(doc_rows, quota, seed, oversample):
    """Pure-Python replica of the operator: 48-bit md5 hash,
    per-stratum oversampled pre-filter, (hash, doc_id) rank trim."""
    from collections import defaultdict

    by_src = defaultdict(list)
    for doc_id, source in doc_rows:
        h = int(
            hashlib.md5(f"{doc_id}:{seed}".encode()).hexdigest()[:12], 16
        )
        by_src[source].append((h, doc_id))
    expect = set()
    for source, rows in by_src.items():
        p = min(1.0, oversample * quota / len(rows))
        cand = sorted(r for r in rows if r[0] < p * float(1 << 48))
        for rank, (h, doc_id) in enumerate(cand[:quota], start=1):
            expect.add((source, len(rows), rank, doc_id))
    return expect


def test_source_quota_sample_matches_python_mirror(spark):
    rows = ["tok"] * 36
    sources = ["big"] * 30 + ["mid"] * 5 + ["solo"]
    df = docs_df(spark, rows, sources)
    got = {
        (r["stratum"], r["n_stratum"], r["sample_rank"], r["doc_id"])
        for r in curation.source_quota_sample(
            df, quota=3, seed="q42", oversample=4.0
        ).collect()
    }
    expect = _mirror(
        [(i, s) for i, s in enumerate(sources)], 3, "q42", 4.0
    )
    assert got == expect
    # quota respected per stratum; strata smaller than quota keep all
    per_src = {}
    for s, _, _, _ in got:
        per_src[s] = per_src.get(s, 0) + 1
    assert per_src["big"] == 3 and per_src["mid"] == 3
    assert per_src["solo"] == 1


def test_source_quota_sample_stable_under_repartition(spark):
    rows = ["tok"] * 40
    sources = [f"s{i % 4}" for i in range(40)]
    df = docs_df(spark, rows, sources)
    a = set(
        map(
            tuple,
            curation.source_quota_sample(df, quota=5).collect(),
        )
    )
    b = set(
        map(
            tuple,
            curation.source_quota_sample(
                df.repartition(7, "doc_id"), quota=5
            ).collect(),
        )
    )
    assert a == b and len(a) == 20


def test_source_quota_prefilter_actually_filters(spark):
    # tight oversample on a hot stratum: the candidate pre-filter must
    # reject rows BEFORE the ranking window (p = 1.5*4/200 = 3%), and
    # the trim still returns exactly quota rows when enough survive
    rows = ["tok"] * 200
    df = docs_df(spark, rows, ["hot"] * 200)
    out = curation.source_quota_sample(
        df, quota=4, seed="q42", oversample=1.5
    )
    expect = _mirror([(i, "hot") for i in range(200)], 4, "q42", 1.5)
    got = {
        (r["stratum"], r["n_stratum"], r["sample_rank"], r["doc_id"])
        for r in out.collect()
    }
    assert got == expect
    assert len(got) <= 4
    # the plan filters on the hash bound below the window (scan-fused),
    # so the window never sees the full stratum
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan and "Filter" in plan


# --- pipeline validated_layout ------------------------------------------


def _write_raw(tmp_path):
    raw = tmp_path / "raw"
    (raw / "orders").mkdir(parents=True)
    (raw / "order_items").mkdir(parents=True)
    (raw / "products.csv").write_text(
        "id,sku,cost,category,name,brand,retail_price,department\n"
        "1,A-1,5.0,Electronics,Widget,Acme,10.0,Gadgets\n"
        "2,B-2,2.0,Books,Novel,Pub,8.0,Media\n"
    )
    (raw / "orders" / "part1.csv").write_text(
        "order_id,user_id,status,created_at,returned_at,shipped_at,"
        "delivered_at,num_of_item\n"
        + "".join(
            f"{i},{100 + i % 7},delivered,2025-03-{8 + i % 20:02d}T10:00:00,,"
            f"2025-03-28T12:00:00,2025-03-29T10:00:00,1\n"
            for i in range(1, 41)
        )
    )
    (raw / "order_items" / "part1.csv").write_text(
        "id,order_id,user_id,product_id,status,created_at,shipped_at,"
        "delivered_at,returned_at,sale_price\n"
        + "".join(
            f"{i + 9},{i},{100 + i % 7},{1 + i % 2},delivered,"
            f"2025-03-{8 + i % 20:02d}T10:00:00,2025-03-28T12:00:00,"
            f"2025-03-29T10:00:00,,10.0\n"
            for i in range(1, 41)
        )
    )
    return raw


def test_pipeline_zorder_zone(spark, tmp_path):
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark import (
        pipeline_batch,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.sinks.files import (
        zone_table_layout,
    )

    raw = _write_raw(tmp_path)
    paths = pipeline_batch.run(
        spark, str(raw), str(tmp_path / "out"), validated_layout="zorder"
    )
    vdir = paths["validated"]
    orders = spark.read.parquet(vdir + "/orders")
    items = spark.read.parquet(vdir + "/order_items")
    assert orders.count() == 40 and items.count() == 40
    # the clustering domains live in the zone manifest
    spec_o = zone_table_layout(vdir, "orders")
    spec_i = zone_table_layout(vdir, "order_items")
    assert spec_o["layout"] == spec_i["layout"] == "zorder"
    assert set(spec_o["zorder_domains"]) == {"order_date", "user_id"}
    assert set(spec_i["zorder_domains"]) == {"order_id", "product_id"}
    lo, hi = spec_o["zorder_domains"]["user_id"]
    assert lo == 100.0 and hi == 106.0
    assert zone_table_layout(vdir, "products")["layout"] == "flat"
    # KPIs still produced alongside the clustered zone
    assert spark.read.parquet(paths["category_kpi"]).count() > 0


def test_pipeline_unknown_validated_layout_raises(spark, tmp_path):
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark import (
        pipeline_batch,
    )

    raw = _write_raw(tmp_path)
    with pytest.raises(ValueError, match="unknown validated_layout"):
        pipeline_batch.run(
            spark, str(raw), str(tmp_path / "out"), validated_layout="hilbert"
        )
    # the check runs before any Spark work: nothing was written
    assert not (tmp_path / "out").exists()


@pytest.mark.parametrize("layout", ["flat", "bucketed", "zorder"])
def test_pipeline_validated_zone_round_trips_kpis(spark, tmp_path, layout):
    """Every validated_layout is a faithful copy of the validated star
    schema: the KPIs rebuilt from the zone read back equal the
    pipeline's own KPI tables, row for row."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark import (
        pipeline_batch,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        kpi,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.sinks.files import (
        read_zone_tables,
    )

    raw = _write_raw(tmp_path)
    paths = pipeline_batch.run(
        spark, str(raw), str(tmp_path / "out"), validated_layout=layout
    )
    try:
        zone = read_zone_tables(
            spark, paths["validated"], ["products", "orders", "order_items"]
        )
        # order_year exists only to partition the bucketed layout
        zone = {n: df.drop("order_year") for n, df in zone.items()}
        rebuilt = kpi.run_transformation(
            zone["products"], zone["orders"], zone["order_items"]
        )
        for name, df in rebuilt.items():
            cols = sorted(df.columns)
            got = sorted(tuple(r) for r in df.select(*cols).collect())
            want = sorted(
                tuple(r)
                for r in spark.read.parquet(paths[name]).select(*cols).collect()
            )
            assert got and got == want, (layout, name)
    finally:
        for t in ("validated_orders", "validated_order_items"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


# --- mixture_weights ----------------------------------------------------


def test_mixture_weights_alpha_law(spark):
    # strata 80/16/4: alpha<1 upweights rare, damps dominant;
    # fractions must renormalize to 1 and targets to ~N
    rows = ["tok"] * 100
    sources = ["big"] * 80 + ["mid"] * 16 + ["rare"] * 4
    df = docs_df(spark, rows, sources)
    out = {
        r["stratum"]: r
        for r in curation.mixture_weights(df, alpha=0.3).collect()
    }
    assert out["big"]["sample_weight"] < 1 < out["rare"]["sample_weight"]
    assert out["rare"]["sample_weight"] > out["mid"]["sample_weight"]
    assert sum(r["p_sample"] for r in out.values()) == pytest.approx(1, abs=1e-4)
    assert sum(r["target_docs"] for r in out.values()) == pytest.approx(100, abs=2)
    # hand-check one value: q_rare = .04^.3 / (.8^.3 + .16^.3 + .04^.3)
    z = 0.8**0.3 + 0.16**0.3 + 0.04**0.3
    assert out["rare"]["p_sample"] == pytest.approx(0.04**0.3 / z, abs=1e-5)


def test_mixture_weights_alpha_one_is_identity(spark):
    rows = ["tok"] * 50
    sources = ["a"] * 30 + ["b"] * 20
    out = {
        r["stratum"]: r
        for r in curation.mixture_weights(
            docs_df(spark, rows, sources), alpha=1.0
        ).collect()
    }
    for r in out.values():
        assert r["sample_weight"] == pytest.approx(1.0, abs=1e-5)
        assert r["p_sample"] == pytest.approx(r["p_data"], abs=1e-5)
    assert out["a"]["target_docs"] == 30 and out["b"]["target_docs"] == 20


# --- lm_perplexity_bigram -----------------------------------------------


def test_lm_perplexity_bigram_hand_computed(spark):
    # bigrams: (a,b)x2, (a,c)x1; c(a,.) = 3
    # docs 0,1 "a b": ppl = 1/(2/3) = 1.5 ; doc 2 "a c": ppl = 3
    out = {
        r["doc_id"]: r
        for r in text.lm_perplexity_bigram(
            docs_df(spark, ["a b", "a b", "a c"])
        ).collect()
    }
    assert out[0]["n_bigrams"] == 1
    assert out[0]["perplexity"] == pytest.approx(1.5, abs=1e-4)
    assert out[2]["perplexity"] == pytest.approx(3.0, abs=1e-4)


def test_lm_perplexity_bigram_detects_word_order(spark):
    # same WORDS, reversed ORDER: invisible to the unigram model,
    # flagged by the bigram model — the conditional-LM signal
    rows = ["a b c d"] * 10 + ["d c b a"]
    uni = {r["doc_id"]: r["perplexity"]
           for r in text.lm_perplexity(docs_df(spark, rows)).collect()}
    bi = {r["doc_id"]: r["perplexity"]
          for r in text.lm_perplexity_bigram(docs_df(spark, rows)).collect()}
    assert uni[10] == pytest.approx(uni[0], abs=1e-3)  # unigram: blind
    assert bi[10] > 3 * bi[0]  # bigram: the shuffled doc is an outlier


def test_lm_perplexity_bigram_drops_sub_bigram_docs(spark):
    out = text.lm_perplexity_bigram(
        docs_df(spark, ["solo", "two tokens"])
    ).collect()
    assert [r["doc_id"] for r in out] == [1]  # 1-token doc has no row


# --- source_token_drift -------------------------------------------------


def test_source_token_drift_flags_divergent_source(spark):
    # two sources drawn from the same phrase + one source of alien
    # tokens: the alien source must carry (much) higher KL; identical
    # sources score identically; KL >= 0 everywhere
    rows = (["the cat sat on the mat"] * 10
            + ["the cat sat on the mat"] * 10
            + ["zq wx kv jn pf lr"] * 2)
    sources = ["a"] * 10 + ["b"] * 10 + ["alien"] * 2
    out = {
        r["stratum"]: r
        for r in text.source_token_drift(
            docs_df(spark, rows, sources), threshold=0.1
        ).collect()
    }
    assert out["a"]["kl_divergence"] == out["b"]["kl_divergence"]
    assert out["alien"]["kl_divergence"] > 10 * max(
        out["a"]["kl_divergence"], 1e-9
    )
    assert out["alien"]["drifted"] and not out["a"]["drifted"]
    assert all(r["kl_divergence"] >= 0 for r in out.values())
    assert out["alien"]["n_tokens"] == 12 and out["alien"]["n_terms"] == 6


def test_source_token_drift_zero_for_single_source(spark):
    # one source IS the corpus: p_source == p_corpus, KL exactly 0
    out = text.source_token_drift(
        docs_df(spark, ["a b c", "a b"], ["only", "only"])
    ).collect()
    assert len(out) == 1 and out[0]["kl_divergence"] == 0.0


def test_bpe_learn_merges_matches_reference_bpe(spark, tmp_path):
    """bpe_learn_merges equals a pure-Python Sennrich BPE (same
    weighted pair counts, (cnt DESC, lexicographic) tie-break, greedy
    left-to-right merge application) on a corpus with known dynamics,
    and stops early when no adjacent pairs remain."""
    from collections import Counter

    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        text,
    )

    docs = spark.createDataFrame(
        [
            (1, "low low low low low lower lower"),
            (2, "newest newest newest newest newest newest"),
            (3, "widest widest widest"),
        ],
        "doc_id long, text string",
    )
    got = [
        tuple(r)
        for r in text.bpe_learn_merges(
            docs, str(tmp_path / "bpe_zone"), n_merges=6
        ).collect()
    ]

    def ref_bpe(freqs: dict[str, int], k: int):
        vocab = {tuple(w): n for w, n in freqs.items()}
        merges = []
        for rank in range(1, k + 1):
            pairs: Counter = Counter()
            for syms, n in vocab.items():
                for a, b in zip(syms, syms[1:]):
                    pairs[(a, b)] += n
            if not pairs:
                break
            (l, r), cnt = min(
                pairs.items(), key=lambda kv: (-kv[1], kv[0])
            )
            merges.append((rank, l, r, l + r, cnt))
            new_vocab = {}
            for syms, n in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and (syms[i], syms[i + 1]) == (l, r):
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + n
            vocab = new_vocab
        return merges

    freqs = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    assert got == ref_bpe(freqs, 6)
    assert len(got) == 6 and got[0][4] == 9  # ('e','s') count 6+3... sanity below

    # early stop: single-character words have no pairs to merge
    singles = spark.createDataFrame(
        [(1, "a b a b c")], "doc_id long, text string"
    )
    assert (
        text.bpe_learn_merges(
            singles, str(tmp_path / "bpe_zone2"), n_merges=4
        ).count()
        == 0
    )


@pytest.mark.slow
def test_bpe_checkpointing_bounds_plan_depth_and_preserves_values(
    spark, tmp_path
):
    """VERDICT r9 #7: at realistic merge counts the chained replace
    projections are the pre-checkpoint PageRank problem, so every
    checkpoint_every merges the vocab re-lands (ping-pong snapshots)
    and the chain restarts. The checkpoint cadence must be invisible
    in the VALUES: 64 merges learned under checkpoint_every=8 equal
    those under checkpoint_every=16, and both snapshot tables appear
    on disk (proof the re-land actually ran)."""
    import os
    import random

    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        text,
    )

    rng = random.Random(7)
    letters = "abcde"
    words = [
        "".join(rng.choice(letters) for _ in range(rng.randint(3, 6)))
        for _ in range(120)
    ]
    docs = spark.createDataFrame(
        [(i, " ".join(words[i * 12 : (i + 1) * 12])) for i in range(10)],
        "doc_id long, text string",
    )

    za, zb = str(tmp_path / "bpe_a"), str(tmp_path / "bpe_b")
    got_a = [
        tuple(r)
        for r in text.bpe_learn_merges(
            docs, za, n_merges=64, checkpoint_every=8
        ).collect()
    ]
    got_b = [
        tuple(r)
        for r in text.bpe_learn_merges(
            docs, zb, n_merges=64, checkpoint_every=16
        ).collect()
    ]
    assert got_a == got_b
    assert len(got_a) >= 64  # the corpus supports the full depth
    # the every-8 run re-landed into BOTH ping-pong snapshots
    assert os.path.isdir(os.path.join(za, "bpe_vocab_alt"))
    assert os.path.isdir(os.path.join(za, "bpe_vocab"))

    import pytest

    with pytest.raises(ValueError, match="checkpoint_every"):
        text.bpe_learn_merges(docs, str(tmp_path / "bpe_c"),
                              n_merges=2, checkpoint_every=0)


def test_mixture_epoch_plan_contracts(spark):
    """Epoch-composition value contracts: every doc is emitted exactly
    once with a selected flag; per stratum the selection is a QUALITY
    PREFIX (a selected doc is never outranked by an unselected one);
    selection follows the starts-within rule (selected ⟺
    tokens_before < target_tokens, so overshoot ≤ one doc per
    stratum); Σ targets reconstructs the budget within per-stratum
    rounding; and α=1 makes targets proportional to token mass."""
    import pyspark.sql.functions as F

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    )
    budget = 10_000
    plan = curation.mixture_epoch_plan(docs, budget_tokens=budget)
    rows = plan.collect()
    assert len(rows) == docs.count()
    assert len({r["doc_id"] for r in rows}) == len(rows)

    by_stratum: dict[str, list] = {}
    for r in rows:
        by_stratum.setdefault(r["stratum"], []).append(r)
    tgt_sum = 0
    for stratum, rs in by_stratum.items():
        rs.sort(key=lambda r: (-r["model_quality"], r["doc_id"]))
        tgt = rs[0]["target_tokens"]
        assert all(r["target_tokens"] == tgt for r in rs)
        tgt_sum += tgt
        # selected ⟺ starts within budget, and a quality prefix
        cum = 0
        seen_unselected = False
        for r in rs:
            assert r["tokens_before"] == cum
            assert r["selected"] == (cum < tgt)
            if not r["selected"]:
                seen_unselected = True
            else:
                assert not seen_unselected, "selection not a prefix"
            cum += r["n_tokens"]
    # Σ floor(q6·B + .5) is within |strata| of the budget (q sums to
    # ~1 at round-6; each stratum rounds at most ±0.5 + 1e-6·B)
    assert abs(tgt_sum - budget) <= len(by_stratum) + 1

    # α=1: targets proportional to token mass (within rounding)
    flat = {
        r["stratum"]: r["target_tokens"]
        for r in curation.mixture_epoch_plan(
            docs, budget_tokens=budget, alpha=1.0
        ).select("stratum", "target_tokens").distinct().collect()
    }
    mass = {
        r["stratum"]: r["m"]
        for r in docs.select(
            F.col("source").alias("stratum"),
            F.size(F.split(F.trim("text"), r"\s+")).alias("m"),
        ).groupBy("stratum").agg(F.sum("m").alias("m")).collect()
    }
    tot = sum(mass.values())
    for s, m in mass.items():
        assert flat[s] == pytest.approx(budget * m / tot, abs=2.0)
