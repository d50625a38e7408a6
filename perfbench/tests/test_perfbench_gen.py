"""The raw-zone generator: reproducible bytes, and dirty rows that the
package's validator rejects under exactly the rules they were written for."""

import filecmp
import os
import shutil

import gen
from pyspark.sql import functions as F

#: the benchmark's zone, with a shorter history
HISTORY_DAYS = 3


def _files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


def _write(root, seed):
    spec = gen.ZoneSpec(seed=seed, history_days=HISTORY_DAYS)
    inj = gen.write_history(spec, os.path.join(root, "raw"))
    paths, wave = gen.write_wave(spec, 1, os.path.join(root, "stage"))
    return inj, paths, wave


def test_same_seed_same_bytes(tmp_path):
    _write(tmp_path / "a", 7)
    _write(tmp_path / "b", 7)
    _write(tmp_path / "c", 8)
    names = _files(tmp_path / "a")
    assert names == _files(tmp_path / "b") and len(names) == 2 * gen.FILES_PER_DIR + 3
    _, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert mismatch == [] and errors == []
    _, mismatch, _ = filecmp.cmpfiles(tmp_path / "a", tmp_path / "c", names, shallow=False)
    assert mismatch


def test_injected_rejects_match_validator(spark, tmp_path):
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        validate,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.sources.readers import (
        load_ecommerce_csv,
    )

    inj, paths, wave = _write(tmp_path, 11)
    raw = tmp_path / "raw"
    for table, path in paths.items():
        shutil.move(path, raw / table / os.path.basename(path))
    inj.add(wave)
    tables = load_ecommerce_csv(spark, str(raw))
    summary = validate.validation_reject_summary(tables["orders"], tables["order_items"])
    got = {(r.table_name, r.rule): r.n_rejected for r in summary.collect()}
    assert got == inj.rejects
    assert all(n > 0 for n in got.values())
    # every touched date is an order date of a valid item
    valid = validate.run_validation(tables["products"], tables["orders"], tables["order_items"])
    dates = {str(r.order_date) for r in valid["order_items"]
             .join(valid["orders"], "order_id").select("order_date").distinct().collect()}
    assert dates == inj.touched_dates
    nulls = tables["products"].filter(F.col("brand").isNull()).count()
    assert nulls > 0
