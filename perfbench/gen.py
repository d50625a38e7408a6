"""Seeded input generators for the benchmark.

A CSV raw zone shaped like the reference's (``products.csv``,
``orders/``, ``order_items/``; FIXTURES.md §A) with the dirty rows the
validator exists for, written at stated shares, plus upload waves of
one orders file and one order_items file each. All of it is a pure
function of the seed.

Order attributes (user, time of day, return flag, item count) are
hashed from ``(seed, order_id)`` rather than drawn in sequence, so a
wave can add late items to an order of an earlier day without the
generator keeping state between waves.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

CATEGORIES = ("Beauty", "Books", "Clothing", "Electronics", "Home & Kitchen",
              "Sports", "Toys")
DEPARTMENTS = ("Women", "Men", "Kids", "Home", "Outdoor", "Office", "Garden")
EPOCH = np.datetime64("2024-01-01T00:00:00", "s")
DAY_S = 86_400

#: Shares of injected dirty rows, per clean row of the table. Every
#: dirty row carries exactly one defect, so its reject rule in
#: ``validate.validation_reject_summary`` is unambiguous.
ORDER_DIRT = {"null_order_id": 0.002, "null_user_id": 0.002,
              "null_created_at": 0.002}
ITEM_DIRT = {"null_id": 0.002, "null_product_id": 0.002,
             "null_sale_price": 0.002, "nonpositive_sale_price": 0.003,
             "unknown_order": 0.003}
RETURN_SHARE = 0.20
DANGLING_PRODUCT_SHARE = 0.005
NULL_BRAND_SHARE = 0.01
#: Share of a wave's items that belong to orders of the previous
#: ``LATE_DAYS`` days (late arrivals re-touch those days' KPIs).
LATE_SHARE = 0.05
LATE_DAYS = 3

# id ranges that clean orders never reach: dangling item→order keys and
# the keys of orders dropped for a null user/timestamp
DANGLING_ORDER_BASE = 1_000_000_000
DIRTY_ORDER_BASE = 2_000_000_000
WAVE_ITEM_BASE = 10_000_000

#: Raw zone size: 10,000 products, 20,000 users and ``HISTORY_DAYS``
#: days of ``ORDERS_PER_DAY`` orders (~36k items, ~5 MB of CSV) over
#: ``FILES_PER_DIR`` files per fact directory. A wave is one more day.
N_PRODUCTS = 10_000
N_USERS = 20_000
HISTORY_DAYS = 30
ORDERS_PER_DAY = 400
FILES_PER_DIR = 8


def _mix(seed: int, x: np.ndarray, salt: int) -> np.ndarray:
    """splitmix64 finalizer of (seed, salt, x): a stateless uniform hash."""
    with np.errstate(over="ignore"):
        z = (x.astype(np.uint64) + np.uint64((seed * 1_000_003 + salt) & 0xFFFFFFFF)
             * np.uint64(0x9E3779B97F4A7C15))
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


@dataclass(frozen=True)
class ZoneSpec:
    """One raw zone. Orders of day ``d`` hold the contiguous ids
    ``d*ORDERS_PER_DAY+1 .. (d+1)*ORDERS_PER_DAY``."""

    seed: int
    history_days: int = HISTORY_DAYS


@dataclass
class Injected:
    """What a generated file set contains, for the output checks."""

    rejects: dict[tuple[str, str], int] = field(default_factory=dict)
    touched_dates: set[str] = field(default_factory=set)
    raw_bytes: int = 0

    def add(self, other: "Injected") -> None:
        for k, v in other.rejects.items():
            self.rejects[k] = self.rejects.get(k, 0) + v
        self.touched_dates |= other.touched_dates
        self.raw_bytes += other.raw_bytes


def _ts(seconds: np.ndarray) -> np.ndarray:
    return np.datetime_as_string(EPOCH + seconds.astype("timedelta64[s]"), unit="s")


def _order_attrs(spec: ZoneSpec, oid: np.ndarray) -> dict[str, np.ndarray]:
    day = (oid - 1) // ORDERS_PER_DAY
    created = day * DAY_S + (_mix(spec.seed, oid, 1) % DAY_S).astype(np.int64)
    return {
        "day": day,
        "created": created,
        "user": (_mix(spec.seed, oid, 2) % N_USERS).astype(np.int64) + 1,
        "returned": (_mix(spec.seed, oid, 3) % 1000) < RETURN_SHARE * 1000,
        "n_items": (_mix(spec.seed, oid, 4) % 5).astype(np.int64) + 1,
    }


def _orders_frame(spec: ZoneSpec, oid: np.ndarray) -> pd.DataFrame:
    a = _order_attrs(spec, oid)
    ret = a["returned"]
    shipped = a["created"] + DAY_S
    delivered = shipped + 2 * DAY_S
    returned_at = np.where(ret, _ts(delivered + 3 * DAY_S), "")
    delivered_at = np.where((_mix(spec.seed, oid, 5) % 100) == 0, "", _ts(delivered))
    return pd.DataFrame({
        "order_id": oid.astype(str),
        "user_id": a["user"].astype(str),
        "status": np.where(ret, "returned", "delivered"),
        "created_at": _ts(a["created"]),
        "returned_at": returned_at,
        "shipped_at": _ts(shipped),
        "delivered_at": delivered_at,
        "num_of_item": a["n_items"].astype(str),
    })


def _items_frame(spec: ZoneSpec, rng: np.random.Generator, item_oid: np.ndarray,
                 first_id: int) -> pd.DataFrame:
    a = _order_attrs(spec, item_oid)
    n = len(item_oid)
    pid = rng.integers(1, N_PRODUCTS + 1, n)
    dangling = rng.random(n) < DANGLING_PRODUCT_SHARE
    pid = np.where(dangling, N_PRODUCTS + 1 + rng.integers(0, 1000, n), pid)
    price = rng.integers(100, 30_000, n) / 100.0
    ret = a["returned"]
    shipped = a["created"] + DAY_S
    return pd.DataFrame({
        "id": np.arange(first_id, first_id + n).astype(str),
        "order_id": item_oid.astype(str),
        "user_id": a["user"].astype(str),
        "product_id": pid.astype(str),
        "status": np.where(ret, "returned", "delivered"),
        "created_at": _ts(a["created"]),
        "shipped_at": _ts(shipped),
        "delivered_at": _ts(shipped + 2 * DAY_S),
        "returned_at": np.where(ret, _ts(shipped + 5 * DAY_S), ""),
        "sale_price": np.char.mod("%.2f", price),
    })


def _dirty_orders(spec: ZoneSpec, rng: np.random.Generator, n_clean: int,
                  day: int, key_base: int) -> tuple[pd.DataFrame, dict]:
    counts = {rule: int(round(share * n_clean)) for rule, share in ORDER_DIRT.items()}
    n = sum(counts.values())
    # attributes of real orders of ``day``, under keys no item references
    proxy = day * ORDERS_PER_DAY + 1 + rng.integers(0, ORDERS_PER_DAY, n)
    df = _orders_frame(spec, proxy)
    df["order_id"] = np.arange(key_base, key_base + n).astype(str)
    at = 0
    for rule, col in (("null_order_id", "order_id"), ("null_user_id", "user_id"),
                      ("null_created_at", "created_at")):
        df.iloc[at:at + counts[rule], df.columns.get_loc(col)] = ""
        at += counts[rule]
    return df, {("orders", r): c for r, c in counts.items()}


def _dirty_items(spec: ZoneSpec, rng: np.random.Generator, clean: pd.DataFrame,
                 first_id: int, dangling_base: int) -> tuple[pd.DataFrame, dict]:
    counts = {rule: int(round(share * len(clean))) for rule, share in ITEM_DIRT.items()}
    df = clean.iloc[rng.integers(0, len(clean), sum(counts.values()))].copy()
    df["id"] = np.arange(first_id, first_id + len(df)).astype(str)
    df["product_id"] = rng.integers(1, N_PRODUCTS + 1, len(df)).astype(str)
    at = 0
    for rule in ITEM_DIRT:
        rows = slice(at, at + counts[rule])
        if rule == "nonpositive_sale_price":
            df.iloc[rows, df.columns.get_loc("sale_price")] = np.char.mod(
                "%.2f", -rng.integers(0, 1000, counts[rule]) / 100.0)
        elif rule == "unknown_order":
            df.iloc[rows, df.columns.get_loc("order_id")] = np.arange(
                dangling_base, dangling_base + counts[rule]).astype(str)
        else:
            col = {"null_id": "id", "null_product_id": "product_id",
                   "null_sale_price": "sale_price"}[rule]
            df.iloc[rows, df.columns.get_loc(col)] = ""
        at += counts[rule]
    return df, {("order_items", r): c for r, c in counts.items()}


def _write_csv(df: pd.DataFrame, path: str) -> int:
    df.to_csv(path, index=False)
    return os.path.getsize(path)


def _items_for_orders(spec: ZoneSpec, oid: np.ndarray) -> np.ndarray:
    return np.repeat(oid, _order_attrs(spec, oid)["n_items"])


def _dates(item_oid: np.ndarray) -> set[str]:
    days = np.unique((item_oid - 1) // ORDERS_PER_DAY)
    return {str(EPOCH.astype("datetime64[D]") + int(d)) for d in days}


def _write_products(spec: ZoneSpec, raw_dir: str) -> int:
    rng = np.random.default_rng([spec.seed, 0])
    n = N_PRODUCTS
    pid = np.arange(1, n + 1)
    retail = rng.integers(500, 30_000, n) / 100.0
    brand = np.char.add("Brand", rng.integers(0, 60, n).astype(str))
    brand = np.where(rng.random(n) < NULL_BRAND_SHARE, "", brand)
    df = pd.DataFrame({
        "id": pid.astype(str),
        "sku": np.char.add(np.array(["SKU-"] * n), np.char.zfill(pid.astype(str), 8)),
        "cost": np.char.mod("%.2f", np.round(retail * rng.uniform(0.3, 0.8, n), 2)),
        "category": np.asarray(CATEGORIES)[rng.integers(0, len(CATEGORIES), n)],
        "name": np.char.add("Product ", pid.astype(str)),
        "brand": brand,
        "retail_price": np.char.mod("%.2f", retail),
        "department": np.asarray(DEPARTMENTS)[rng.integers(0, len(DEPARTMENTS), n)],
    })
    os.makedirs(raw_dir, exist_ok=True)
    return _write_csv(df, os.path.join(raw_dir, "products.csv"))


def write_history(spec: ZoneSpec, raw_dir: str) -> Injected:
    """The batch raw zone: ``history_days`` days of orders, split over
    ``FILES_PER_DIR`` files per fact directory, dirty rows included."""
    rng = np.random.default_rng([spec.seed, 1])
    inj = Injected(raw_bytes=_write_products(spec, raw_dir))
    n_orders = spec.history_days * ORDERS_PER_DAY
    oid = np.arange(1, n_orders + 1, dtype=np.int64)
    orders = _orders_frame(spec, oid)
    item_oid = _items_for_orders(spec, oid)
    items = _items_frame(spec, rng, item_oid, 1)
    d_orders, rej_o = _dirty_orders(spec, rng, len(orders), 0, DIRTY_ORDER_BASE)
    d_items, rej_i = _dirty_items(spec, rng, items, len(items) + 1, DANGLING_ORDER_BASE)
    inj.rejects.update(rej_o | rej_i)
    inj.touched_dates = _dates(item_oid)
    for name, frame in (("orders", pd.concat([orders, d_orders])),
                        ("order_items", pd.concat([items, d_items]))):
        frame = frame.iloc[rng.permutation(len(frame))]
        os.makedirs(os.path.join(raw_dir, name), exist_ok=True)
        for k, part in enumerate(np.array_split(np.arange(len(frame)), FILES_PER_DIR)):
            path = os.path.join(raw_dir, name, f"{name}_part{k + 1}.csv")
            inj.raw_bytes += _write_csv(frame.iloc[part], path)
    return inj


def write_wave(spec: ZoneSpec, wave: int, out_dir: str) -> tuple[dict[str, str], Injected]:
    """Upload wave ``wave`` (1-based): one orders file and one
    order_items file for day ``history_days + wave - 1``, written under
    ``out_dir`` (a staging area; the caller lands them). ``LATE_SHARE``
    of the items belong to valid orders of the previous ``LATE_DAYS``
    days. Returns ``{table: path}`` and what the files contain."""
    rng = np.random.default_rng([spec.seed, 2, wave])
    day = spec.history_days + wave - 1
    first = day * ORDERS_PER_DAY + 1
    oid = np.arange(first, first + ORDERS_PER_DAY, dtype=np.int64)
    own = _items_for_orders(spec, oid)
    n_late = int(round(LATE_SHARE * len(own) / (1 - LATE_SHARE)))
    late_lo = max(0, day - LATE_DAYS) * ORDERS_PER_DAY + 1
    late = np.sort(rng.integers(late_lo, first, n_late))
    item_oid = np.concatenate([own, late])
    first_item = WAVE_ITEM_BASE * wave
    items = _items_frame(spec, rng, item_oid, first_item)
    orders = _orders_frame(spec, oid)
    d_orders, rej_o = _dirty_orders(spec, rng, len(orders), day,
                                    DIRTY_ORDER_BASE + WAVE_ITEM_BASE * wave)
    d_items, rej_i = _dirty_items(spec, rng, items, first_item + len(items),
                                  DANGLING_ORDER_BASE + WAVE_ITEM_BASE * wave)
    inj = Injected(rejects=rej_o | rej_i, touched_dates=_dates(item_oid))
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, frame in (("orders", pd.concat([orders, d_orders])),
                        ("order_items", pd.concat([items, d_items]))):
        paths[name] = os.path.join(out_dir, f"{name}_wave{wave:04d}.csv")
        inj.raw_bytes += _write_csv(frame.iloc[rng.permutation(len(frame))], paths[name])
    return paths, inj
