"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and, where an ``oracle_sql()``
mirror exists, the SQL on DuckDB over the same parquet; compares
row-count, sorted column names, and an order-insensitive value hash.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import tempfile
import time

import duckdb
import pandas as pd

# DuckDB shares the host with the Spark session: a fixed memory share and
# a capped spill directory outside the checkout. An oracle that needs
# more fails as its own entry instead of stalling the host.
DUCKDB_MEMORY_LIMIT = "2GB"
DUCKDB_MAX_TEMP_SIZE = "4GB"


def value_hash(df: pd.DataFrame) -> str:
    """Order-insensitive hash: stringify cells, sort columns by name,
    sort rows, hash. Floats are repr'd at full precision — bitwise
    determinism is the engine's job."""
    df = df.reindex(sorted(df.columns), axis=1)
    rows = sorted(
        "\x1f".join(_cell(v) for v in row) for row in df.itertuples(index=False)
    )
    return hashlib.sha256("\x1e".join(rows).encode()).hexdigest()[:16]


def _cell(v) -> str:
    if v is None or v != v:  # NaN/None
        return "<null>"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def main(spill: str) -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import os

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    import __spark_entry__ as e
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark import (
        get_spark,
    )

    spark = get_spark("oracle-check")
    con = duckdb.connect(
        config={
            "memory_limit": DUCKDB_MEMORY_LIMIT,
            "temp_directory": spill,
            "max_temp_directory_size": DUCKDB_MAX_TEMP_SIZE,
        }
    )
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = e.queries(), e.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir).toPandas()
        spark_s = time.time() - t0
        if name not in oracles:
            print(f"  {name}: rows-only check — {len(sdf)} rows ({spark_s:.1f}s)")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except duckdb.Error as exc:
            print(f"  {name}: FAIL: oracle error {exc}")
            failures.append(name)
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rowcount {len(sdf)} != {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"schema {sorted(sdf.columns)} != {sorted(odf.columns)}")
        if not problems:
            hs, ho = value_hash(sdf), value_hash(odf)
            if hs != ho:
                problems.append(f"value hash {hs} != {ho}")
                # show a diff sample
                m = sdf.reindex(sorted(sdf.columns), axis=1).round(6)
                n = odf.reindex(sorted(odf.columns), axis=1).round(6)
                key = sorted(sdf.columns)[:2]
                print(m.sort_values(key).head(3))
                print(n.sort_values(key).head(3))
        status = "FAIL: " + "; ".join(problems) if problems else "ok"
        print(f"  {name}: {status} — {len(sdf)} rows ({spark_s:.1f}s)")
        if problems:
            failures.append(name)

    if failures:
        print(f"FAILURES: {failures}")
        return 1
    print("all green")
    return 0


if __name__ == "__main__":
    with tempfile.TemporaryDirectory(prefix="check_oracle_duckdb_") as d:
        raise SystemExit(main(d))
