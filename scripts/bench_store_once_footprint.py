"""On-disk vector-corpus footprint of the three embedding-ingest
storage deployments (VERDICT r12 #3's BASELINE line):

1. ``flat``      — store_flat_embeddings=True,  ivfpq=True (codes +
                   the flat corpus-of-record zone)
2. ``lists``     — store_flat_embeddings=False, ivf=True (the
                   IVF-Flat inverted lists ARE the corpus; the float32
                   ingest lands them as array<float>)
3. ``ivfpq_only``— store_flat_embeddings=False, ivfpq=True, ivf=False
                   (64x-compressed codes + the retained strided
                   fit-diet sample)

Each deployment ingests the same xN-inflated embeddings corpus through
run_embedding_ingest, then the zone directories are measured with a
recursive byte walk. Prints one JSON line.

Usage: python scripts/bench_store_once_footprint.py [factor] [sf_dir]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"

    from pyspark.sql import functions as F

    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark import (
        get_spark,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.sources.readers import (
        load_testdata,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
        run_embedding_ingest,
    )

    spark = get_spark("bench-store-once")
    spark.sparkContext.setLogLevel("ERROR")

    tmp = tempfile.mkdtemp(prefix="store_once_fp_")
    out: dict = {"factor": factor}
    tables = {}
    configs = {
        "flat": dict(pq=False, ivfpq=True, ivf=False,
                     store_flat_embeddings=True),
        "lists": dict(pq=False, ivfpq=False, ivf=True,
                      store_flat_embeddings=False),
        "ivfpq_only": dict(pq=False, ivfpq=True, ivf=False,
                           store_flat_embeddings=False),
    }
    try:
        emb = load_testdata(spark, sf_dir, ("embeddings",))["embeddings"]
        max_id = emb.agg(F.max("vec_id")).first()[0] + 1
        parts = [
            emb.select(
                (F.col("vec_id") + F.lit(i * max_id)).alias("vec_id"),
                "embedding",
            )
            for i in range(factor)
        ]
        big = parts[0]
        for p in parts[1:]:
            big = big.unionByName(p)
        raw0 = os.path.join(tmp, "raw")
        big.select(
            "vec_id", F.col("embedding").cast("array<float>")
        ).write.parquet(raw0)
        out["corpus_rows"] = factor * max_id
        out["raw_parquet_bytes"] = _du(raw0)

        for mode, cfg in configs.items():
            zone = os.path.join(tmp, f"zone_{mode}")
            tables[mode] = run_embedding_ingest(
                spark, raw0, zone, os.path.join(tmp, f"ckpt_{mode}"),
                n_buckets=8, table_prefix=f"fp_{mode}_", **cfg,
            )
            zones = {}
            for d in os.listdir(zone):
                p = os.path.join(zone, d)
                if os.path.isdir(p):
                    zones[d] = _du(p)
            out[mode] = {
                "total_bytes": sum(zones.values()),
                "zones": zones,
            }
        flat_b = out["flat"]["total_bytes"]
        for mode in ("lists", "ivfpq_only"):
            out[mode]["vs_flat"] = round(
                out[mode]["total_bytes"] / flat_b, 4
            )

        # multi-generation serve cost (ROADMAP r14 #2's measure-first):
        # time ivfpq_topk_streamed on the single-generation zone, then
        # force a drift refit (x100 wave) and time the two-generation
        # serve - the per-generation constant is the delta.
        import time

        from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
            ivfpq_topk_streamed,
        )

        zone = os.path.join(tmp, "zone_ivfpq_only")
        queries = emb.filter(F.col("vec_id") < 10)

        def timed(fn, reps=3):
            best = float("inf")
            for _ in range(reps):
                t0 = time.perf_counter()
                fn().write.mode("overwrite").format("noop").save()
                best = min(best, time.perf_counter() - t0)
            return round(best, 3)

        out["serve_1gen_sec"] = timed(
            lambda: ivfpq_topk_streamed(
                spark, tables["ivfpq_only"]["ivfpq_codes"], zone,
                queries, k=5,
            )
        )

        # steady-state epoch cost, flat vs store-once: deliver the
        # same +10% arrival wave to both deployments (appended to the
        # shared raw dir, consumed via each deployment's ORIGINAL
        # checkpoint so it lands as the next encode-only epoch against
        # the frozen gen). The store-once epoch does strictly less
        # I/O: codes + the tiny strided sample vs codes + the full
        # flat re-land of the batch. Measured BEFORE the drift wave so
        # neither twin refits here.
        inc = emb.select(
            (F.col("vec_id") + F.lit(20_000_000)).alias("vec_id"),
            F.col("embedding").cast("array<float>").alias("embedding"),
        ).limit(max_id * factor // 10)
        inc.write.mode("append").parquet(raw0)
        for mode in ("flat", "ivfpq_only"):
            t0 = __import__("time").perf_counter()
            run_embedding_ingest(
                spark, raw0, os.path.join(tmp, f"zone_{mode}"),
                os.path.join(tmp, f"ckpt_{mode}"),
                n_buckets=8, table_prefix=f"fp_{mode}_",
                **configs[mode],
            )
            out[f"incremental_epoch_{mode}_sec"] = round(
                __import__("time").perf_counter() - t0, 2
            )

        drift = big.select(
            (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
            F.transform(
                "embedding", lambda x: (x * 100).cast("float")
            ).alias("embedding"),
        )
        drift.write.mode("append").parquet(raw0)
        run_embedding_ingest(
            spark, raw0, zone, os.path.join(tmp, "ckpt_ivfpq_only"),
            n_buckets=8, table_prefix="fp_ivfpq_only_",
            **configs["ivfpq_only"],
        )
        out["serve_2gen_sec"] = timed(
            lambda: ivfpq_topk_streamed(
                spark, tables["ivfpq_only"]["ivfpq_codes"], zone,
                queries, k=5,
            )
        )

        print(json.dumps({"metric": "store_once_footprint", **out}))
    finally:
        for t in tables.values():
            for name in t.values():
                spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
