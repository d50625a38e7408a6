"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
the full record as a JSON line, then a COMPACT final JSON line
{"metric": ..., "value": total_sec, "unit": "sec", "queries":
{name: sec}, ...} sized to fit the driver's ~2000-char stdout tail
window (VERDICT r13 #5 — the full record overflowed it, so the
driver's parse saw a mid-JSON tail). Pass --record (or
SPARK_GRAFT_BENCH_RECORD=1) to also write BENCH_LOCAL_r{next}.json;
without it the run leaves the working tree clean (VERDICT r13 #4).

Each query is forced end-to-end with the noop sink (full computation,
no driver collect, no result materialization cost).

Methodology (VERDICT r3 item #4 — record the cold/warm pair):

* ``queries`` / ``value`` — steady-state throughput: the MIN across
  ``ITERATIONS`` runs per query, directly comparable to BASELINE.md and
  to BENCH_r02/r03. On a long-lived cluster — the 100 TB deployment
  shape — whole-stage-codegen compilation and the Python-worker fork
  are paid once per session, so min-of-N is the honest per-query number.
* ``queries_cold`` / ``cold_total`` — the FIRST execution of each plan
  in this session, which additionally pays Janino codegen (~0.5-2 s per
  novel plan shape) and, for Arrow queries, any not-yet-forked worker.
  The warm-up deliberately does NOT pre-run any headline query (earlier
  rounds warmed with category_kpi itself, which made its "cold" number
  unmeasurable — the r2 KPI-regression question was undecidable from
  the recorded data). JVM/classloader/parquet-footer warm-up uses a
  plain scan count, so cold numbers include plan compile but not JVM
  start.

``category_kpi_bucketed`` is the bucketed-validated-zone run (VERDICT
r3 item #6): the zone is written once, untimed (``bucketBy(order_id)``
— the shuffle paid at write time), then the same KPI runs against the
catalog tables with the J2 items⋈orders Exchange eliminated
(tests/test_sources_bucketing.py asserts the plan shape; this entry
records the wall-clock payoff).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "category_kpi",
    "order_kpi",
    "category_rank_daily",
    "pricing_summary",
    "top_customers",
    "region_revenue",
    "sessionize",
    "events_daily",
    "dedup_exact",
    "dedup_minhash",
    "ann_cosine_topk",
    "token_stats",
    "text_quality",
    "revenue_forecast",
    "shipping_priority",
    "ngram_jaccard",
    "top_terms",
    "local_supplier_volume",
    "product_profit",
    "customer_distribution",
    "returned_items",
    "price_quantiles",
    "ann_ivf_topk",
    "ann_ivf_trained",
    "ann_ivf_trained_state",
    "ann_pq_topk",
    "ann_pq_state",
    "ann_ivfpq_topk",
    "ann_ivfpq_state",
    # the refine tier: ADC shortlist → exact rerank; the state twin
    # serves shortlist from the landed model zone (the production
    # deployment), hard negatives are the label-filtered form
    "ann_ivfpq_rerank_state",
    "mmr_diversified_topk",
    "hard_negative_mining",
    "ann_recall_report",
    "ivf_cell_stats",
    "ivf_probe_tuning",
    # the tuning table's consumer: pick the budget meeting the recall
    # floor from the landed tuning zone, serve at it (VERDICT r15 #6)
    "ann_ivf_tuned_serve",
    # filtered vector search from the landed zone: label predicate
    # pushed into the DPP-pruned lists scan (r16)
    "ann_ivf_filtered_state",
    # binary quantization: Hamming shortlist over the landed 1-bit
    # codes (24 B/vector), exact rerank of the survivors (r16)
    "ann_binary_state",
    # IVF x binary composed: DPP cell pruning x 24 B/vector codes on
    # one landed-zone scan (r16)
    "ann_ivf_binary_state",
    # streaming-maintained binary model: ingest -> fit -> encode ->
    # land -> serve, one micro-batch (r16)
    "ann_binary_stream",
    # leakage-safe group-keyed train/val/test split (r16)
    "train_test_split",
    "train_test_split_neardup",
    # secret/credential scan beside pii_redaction (r16)
    "secret_scan",
    "tfidf_cosine_pairs",
    "winnowing_fingerprint",
    "token_count_bpe",
    "click_attribution",
    "chunk_dedup_hashed",
    "events_order_window",
    "quality_model",
    "conversion_funnel",
    "cohort_retention",
    "rfm_segments",
    "market_basket",
    "revenue_deciles",
    "doc_repetition",
    "embedding_quantize_int8",
    "bm25_search",
    "incremental_dedup",
    "hybrid_search_rrf",
    "fuzzy_name_pairs",
    "lm_perplexity",
    "lm_perplexity_bigram",
    "source_quota_sample",
    "mixture_weights",
    "semantic_neardup_scaled",
    "source_token_drift",
    "semantic_neardup_auto",
    "dsir_selection",
    "ngram_novelty",
    "duplicate_span_removal",
    "decontaminate_spans",
    "quality_curriculum",
    "curriculum_pack",
    # the landed-zone twin: manifest serve with zero scoring (cold
    # pays the session's one-time curriculum zone write)
    "curriculum_pack_state",
    # epoch composition: budget → mixture targets → quality prefix;
    # and the full budget→mix→select→pack chain (r16)
    "mixture_epoch_plan",
    "epoch_curriculum_pack",
    "copurchase_pagerank",
    "curation_funnel",
    "quality_logreg_train",
    "quality_logreg_scored",
    "dsir_selection_state",
    "curation_funnel_state",
    "quality_logreg_l2",
    # bm25_search_state is the FIRST shared-corpus-zone consumer in
    # this list: its cold sample carries the session's one-time zone
    # build (grain + feature/vector derivations); every later *_state
    # entry (and its own warm sample) is a pure zone serve
    "bm25_search_state",
    "doc_kmeans",
    # the k-means downstream recipes run in their state-composed form
    # (VERDICT r8 #2): the shared cluster-state zone is landed by the
    # first of them (cold pays grain + fit once) and the rest read the
    # landed assignment — the production refresh-once/read-many shape,
    # mirroring the bucketed-KPI precedent above
    "cluster_balanced_sample_state",
    "cluster_top_terms_state",
    "corpus_state_summary",
    "kmeans_fit_report_state",
    "lm_perplexity_state",
    "lm_perplexity_bigram_state",
    "bpe_merges",
    "bpe_subword_stats",
    "bpe_doc_token_count",
    "cms_heavy_hitters",
    "hll_vocab",
]


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


#: VERDICT r10 "What's wrong" #3: min-of-2 is not robust on a shared
#: box — the r10 driver record carried 3-8x phantom regressions that
#: steady-state re-timing didn't reproduce. When an entry's min still
#: exceeds VARIANCE_FACTOR x its trailing recorded value, re-run it up
#: to VARIANCE_EXTRA_ITERS more times; entries that stay above the
#: guard are listed in the record's "outliers" so a reader can tell a
#: load artifact (extra iterations brought it back) from a real
#: regression (it reproduced under re-runs).
VARIANCE_FACTOR = 1.5
VARIANCE_EXTRA_ITERS = 2


def _prev_driver_queries(here: str) -> tuple[str, ...]:
    """Query names on the newest driver record's parsed compact line
    (``BENCH_r{max}.json``). The compact line keeps these names in
    preference to anything else (VERDICT r16 "What's wrong" #6): the
    omitted-fastest set used to rotate between rounds as timings
    moved, so the driver's round-over-round differ kept reporting
    entries that merely got FASTER as "dropped_from_bench". Pinning
    the previous line's names makes the omission set stable without
    changing any timing or removing any entry from the full record."""
    newest: tuple[int, str] | None = None
    try:
        for f in os.listdir(here):
            if f.startswith("BENCH_r") and f.endswith(".json"):
                num = f[len("BENCH_r"): -len(".json")]
                if num.isdigit() and (newest is None or int(num) > newest[0]):
                    newest = (int(num), f)
    except OSError:
        return ()
    if newest is None:
        return ()
    try:
        with open(os.path.join(here, newest[1])) as fh:
            rec = json.load(fh)
    except (OSError, json.JSONDecodeError):
        return ()
    parsed = rec.get("parsed") or {}
    return tuple((parsed.get("queries") or {}).keys())


def _trailing_queries(here: str, sf) -> dict[str, float]:
    """Per-query warm values from the newest BENCH_LOCAL_r*.json at
    the SAME scale factor — the trailing record the variance guard
    compares against (an sf0.001 smoke record must never become the
    baseline for an sf0.1 run)."""
    candidates: list[tuple[int, str]] = []
    try:
        for f in os.listdir(here):
            if f.startswith("BENCH_LOCAL_r") and f.endswith(".json"):
                num = f[len("BENCH_LOCAL_r"): -len(".json")]
                if num.isdigit():
                    candidates.append((int(num), f))
    except OSError:
        return {}
    for _, f in sorted(candidates, reverse=True):
        # per-file guard (ADVICE r11): one corrupt/unreadable record
        # must not silently disable the variance guard — skip it and
        # let the next-newest same-sf record serve as the baseline
        try:
            with open(os.path.join(here, f)) as fh:
                rec = json.load(fh)
        except (OSError, json.JSONDecodeError):
            continue
        if rec.get("sf") == sf:
            return rec.get("queries", {}) or {}
    return {}


def _time_entry(
    run, iterations: int, prev: float | None
) -> tuple[float, float, int]:
    """(cold, warm_min, extra_iters): the standard cold/warm pair,
    plus guard re-runs while the min exceeds the trailing record by
    VARIANCE_FACTOR (host-load smoothing, bounded)."""
    best = float("inf")
    cold = 0.0
    for i in range(iterations):
        t0 = time.perf_counter()
        run()
        dt = time.perf_counter() - t0
        if i == 0:
            cold = dt
        best = min(best, dt)
    extra = 0
    while (
        prev is not None
        and best > VARIANCE_FACTOR * prev
        and extra < VARIANCE_EXTRA_ITERS
    ):
        t0 = time.perf_counter()
        run()
        best = min(best, time.perf_counter() - t0)
        extra += 1
    return cold, best, extra


def _bucketed_kpi_setup(spark, sf_dir: str, base_dir: str):
    """Write the validated zone bucketed by order_id (untimed setup;
    at 100 TB this cost is paid once by the validation stage's write
    and amortized over every downstream KPI run), and return named
    thunks running the KPIs against the catalog tables."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        kpi,
        mapping,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.queries import (
        iso_date,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.sinks.files import (
        read_zone_tables,
        write_zone_table,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.sources.readers import (
        load_testdata,
    )
    from pyspark.sql import functions as F

    t = load_testdata(spark, sf_dir, ("orders", "lineitem", "part"))
    items = mapping.order_items_from_tpch(t["lineitem"])
    orders = mapping.orders_from_tpch(t["orders"]).withColumn(
        "order_date", F.to_date("created_at")
    )
    n_buckets = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    names = {
        name: write_zone_table(
            df, base_dir, name, layout="bucketed",
            table=f"bench_bucketed_{name}", n_buckets=n_buckets,
        )["table"]
        for name, df in (("orders", orders), ("order_items", items))
    }
    back = read_zone_tables(spark, base_dir, ["orders", "order_items"])
    products = mapping.products_from_tpch(t["part"])

    def _fact():
        return kpi.build_item_fact(
            back["order_items"],
            back["orders"],
            products,
            extra_order_cols=("user_id",),
        )

    runners = {
        "category_kpi_bucketed": lambda: _noop(
            iso_date(kpi.category_kpi(_fact()), "order_date")
        ),
        "order_kpi_bucketed": lambda: _noop(
            iso_date(kpi.order_kpi(_fact()), "order_date")
        ),
    }
    return runners, names


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark import (
        get_spark,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.queries import (
        QUERIES,
    )

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    iterations = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "2"))

    # warm the JVM, classloader, and parquet footers with plain scan
    # counts — NOT a headline query, so each query's first timed run is
    # a true cold (plan-compile-inclusive) measurement
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.sources.readers import (
        load_testdata,
    )

    for tbl, df in load_testdata(
        spark, sf_dir, ("lineitem", "orders", "documents", "embeddings", "events")
    ).items():
        df.count()
    # warm the Arrow Python worker pool (forked once per executor and
    # reused; a long-lived cluster pays this once per session)
    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.mode("overwrite").format("noop").save()

    here = os.path.dirname(os.path.abspath(__file__))
    sf_raw = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf = float(sf_raw) if sf_raw.replace(".", "").isdigit() else sf_raw
    trailing = _trailing_queries(here, sf)
    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    outliers: dict[str, dict] = {}

    def _record(name: str, run) -> None:
        prev = trailing.get(name)
        c, best, extra = _time_entry(run, iterations, prev)
        cold[name] = round(c, 3)
        warm[name] = round(best, 3)
        if prev is not None and best > VARIANCE_FACTOR * prev:
            outliers[name] = {
                "prev": prev,
                "recorded": round(best, 3),
                "extra_iters": extra,
            }

    for name in HEADLINE:
        _record(name, lambda n=name: _noop(QUERIES[n](spark, sf_dir)))

    # bucketed-zone KPI: setup untimed, then the same cold/warm pair
    zone_dir = tempfile.mkdtemp(prefix="bench_bucketed_zone_")
    try:
        runners, tables = _bucketed_kpi_setup(spark, sf_dir, zone_dir)
        for bname, run_bucketed in runners.items():
            _record(bname, run_bucketed)
        for t in tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    finally:
        shutil.rmtree(zone_dir, ignore_errors=True)

    record = {
        "metric": "headline_queries_total",
        "unit": "sec",
        "iterations": iterations,
        "sf": sf,
        # entries whose min STILL exceeds VARIANCE_FACTOR x the
        # trailing BENCH_LOCAL record after bounded re-runs — either a
        # real regression or persistent host load; the guard already
        # absorbed transient spikes (VERDICT r10 "What's wrong" #3)
        "outliers": outliers,
        "cold_total": round(sum(cold.values()), 3),
        "queries_cold": cold,
        "value": round(sum(warm.values()), 3),
        "queries": warm,
    }
    # --record writes BENCH_LOCAL_r{next}.json (VERDICT r13 #4): the
    # builder's idle-box run passes it; the driver's per-round refresh
    # does NOT, so a recordless run leaves the tree clean and the
    # committed idle record survives the snapshot.
    if "--record" in sys.argv[1:] or os.environ.get(
        "SPARK_GRAFT_BENCH_RECORD"
    ) == "1":
        try:
            rounds = [
                int(f[len("BENCH_r"): -len(".json")])
                for f in os.listdir(here)
                if f.startswith("BENCH_r") and f.endswith(".json")
                and f[len("BENCH_r"): -len(".json")].isdigit()
            ]
            n = max(rounds, default=0) + 1
            # --record-suffix b → BENCH_LOCAL_r{n}b.json: the
            # supplemental ROUND-END record for entries added after
            # the round-start snapshot (VERDICT r14 #6) — late
            # additions get a committed idle-box record instead of
            # prose numbers, without overwriting the round-start file
            suffix = ""
            argv = sys.argv[1:]
            if "--record-suffix" in argv:
                i = argv.index("--record-suffix") + 1
                if i >= len(argv):
                    raise SystemExit(
                        "--record-suffix requires a value (one of a-z)"
                    )
                suffix = argv[i]
                if not (len(suffix) == 1 and suffix.isalpha()
                        and suffix.islower()):
                    raise SystemExit(
                        "--record-suffix must be a single lowercase "
                        f"letter, got {suffix!r}"
                    )
            path = os.path.join(
                here, f"BENCH_LOCAL_r{n:02d}{suffix}.json"
            )
            with open(path, "w") as f:
                json.dump(record, f, indent=1)
        except OSError:
            pass  # read-only checkout: the printed lines are complete
    print(json.dumps(record))
    # The driver keeps only the last ~2000 chars of stdout and parses
    # the FINAL line (VERDICT r13 #5: BENCH_r13 "parsed": null because
    # the full record overflows that window, so the tail started
    # mid-JSON). Emit a compact closing line that provably fits:
    # 2-decimal per-query values, then 1-decimal, then drop the
    # fastest entries into "queries_omitted" — slowest queries (the
    # ones regressions show up in) always survive, and names on the
    # PREVIOUS driver record's parsed line are kept in preference so
    # the omission set is stable round-over-round (VERDICT r16 #9).
    print(_compact_line(record, prefer=_prev_driver_queries(here)))


def _compact_line(
    record: dict, limit: int = 1950, prefer: tuple[str, ...] = ()
) -> str:
    base = {
        "metric": record["metric"],
        "value": record["value"],
        "unit": record["unit"],
        "sf": record["sf"],
        "outliers": sorted(record.get("outliers", {})),
    }
    for ndigits in (2, 1):
        q = {k: round(v, ndigits) for k, v in record["queries"].items()}
        by_slow = sorted(q, key=lambda k: (-q[k], k))
        # drop order: non-preferred fastest first; preferred names
        # (the previous driver line's entries) only drop once nothing
        # else is left to drop, so the driver's differ never sees an
        # entry vanish just because it got faster
        pset = set(prefer)
        order = [k for k in by_slow if k in pset] + [
            k for k in by_slow if k not in pset
        ]
        for keep in range(len(order), -1, -1):
            out = dict(base)
            kept = sorted(order[:keep], key=lambda k: (-q[k], k))
            out["queries"] = {k: q[k] for k in kept}
            omitted = len(order) - keep
            if omitted:
                out["queries_omitted"] = omitted
            line = json.dumps(out, separators=(",", ":"))
            if len(line) <= limit:
                if ndigits == 2 and omitted:
                    break  # try 1-decimal before dropping entries
                return line
    return json.dumps(
        {**base, "queries": {}, "queries_omitted": len(record["queries"])},
        separators=(",", ":"),
    )


if __name__ == "__main__":
    main()
