"""CLI: run the e-commerce KPI pipeline (batch or event-driven).

    python -m real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark \
        --raw /path/raw --out /path/out [--streaming] [--archive] \
        [--validated-layout {flat,bucketed,zorder}]
"""

from __future__ import annotations

import argparse

from . import get_spark
from . import pipeline_batch
from .streaming.pipeline import run_event_driven_pipeline


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--raw", required=True, help="raw zone dir (products.csv, orders/, order_items/)")
    ap.add_argument("--out", required=True, help="output dir (KPI tables, processed zone)")
    ap.add_argument("--streaming", action="store_true", help="event-driven mode (file-source trigger + checkpoint)")
    ap.add_argument("--checkpoint", default=None, help="checkpoint dir (streaming mode)")
    ap.add_argument("--archive", action="store_true", help="archive raw files after processing")
    ap.add_argument(
        "--validated-layout",
        choices=list(pipeline_batch.VALIDATED_LAYOUTS),
        default=None,
        help="also write the validated zone in this layout (batch mode)",
    )
    args = ap.parse_args()

    spark = get_spark("ecommerce-pipeline")
    if args.streaming:
        run_event_driven_pipeline(
            spark,
            args.raw,
            args.out,
            args.checkpoint or f"{args.out}/_checkpoint",
            archive_dir=f"{args.out}/archive" if args.archive else None,
        )
    else:
        paths = pipeline_batch.run(
            spark,
            args.raw,
            args.out,
            validated_layout=args.validated_layout,
            archive=args.archive,
        )
        for k, v in paths.items():
            print(f"{k}: {v}")


if __name__ == "__main__":
    main()
