"""Seeded inputs for the benchmark workloads.

Pure functions of a numpy `Generator` or seed, so the same seed always
yields the same inputs:

- `ard_tile`: dense-wide ARD, one row per pixel, arrays in DESC date
  order as merlin delivers them, ~30 % non-clear QA, and a planted
  step break in half of the pixels (the truth the change-detection
  check scores against).
- `lineitem` / `lake_rows` / `lake_batch`: TPC-H-shaped lineitem at a
  scale factor, the lakehouse table derived from it at sf0.1, and the
  MERGE source batches run against that table.
- `star_schema`: the eight tables bench.py's headline queries read
  (region … lineitem and events), with the column names, types and
  value domains of the registry's test data, at a scale factor.
"""

from __future__ import annotations

import os
from datetime import date

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# -- change-detection input ---------------------------------------------------

BANDS = ["blues", "greens", "reds", "nirs", "swir1s", "swir2s", "thermals"]
CLEAR_QA = 322  # clear land (FIXTURES.md §2 codes)
CLOUD_QA = 480
FILL_QA = 1
ARD_START = date(2000, 1, 1).toordinal()
ARD_STEP_DAYS = 16
NOISE = 30.0
STEP_MIN, STEP_MAX = 400.0, 900.0
NONCLEAR = 0.3  # share of observations with a cloud or fill QA code
N_DATES = 300  # observations per pixel


def ard_tile(
    seed: int,
    chips: list[tuple[int, int]],
    side: int,
) -> tuple[pa.Table, dict]:
    """Dense-wide ARD for `chips` (side×side pixels of N_DATES observations each).

    Returns (table, truth): `truth[(cx, cy, px, py)]` is
    (first clear ordinal, last clear ordinal, planted break ordinal or
    None for a stable pixel). Each pixel is a flat per-band level plus
    Gaussian noise; ~NONCLEAR of its observations carry a cloud/fill
    QA code and junk values (masked by detection); half of each chip's
    pixels (rounded down) step by 400-900 in every band at a clear date
    drawn from the middle 40 % of the series."""
    rng = np.random.default_rng(seed)
    dates = ARD_START + ARD_STEP_DAYS * np.arange(N_DATES)
    rows = {k: [] for k in ["cx", "cy", "px", "py", "dates", "qas", *BANDS]}
    truth: dict = {}
    desc = dates[::-1].astype("int32").tolist()
    for cx, cy in chips:
        broken = set(rng.choice(side * side, side * side // 2, replace=False).tolist())
        for px in range(side):
            for py in range(side):
                qa = np.where(
                    rng.random(N_DATES) < NONCLEAR,
                    rng.choice([CLOUD_QA, FILL_QA], N_DATES),
                    CLEAR_QA,
                )
                brk = None
                if px * side + py in broken:
                    at = int(rng.integers(int(0.3 * N_DATES), int(0.7 * N_DATES)))
                    qa[at] = CLEAR_QA
                    brk = int(dates[at])
                    sign = 1.0 if rng.random() < 0.5 else -1.0
                for b in BANDS:
                    v = rng.uniform(800.0, 3000.0) + rng.normal(0.0, NOISE, N_DATES)
                    if brk is not None:
                        v[at:] += sign * rng.uniform(STEP_MIN, STEP_MAX)
                    junk = rng.uniform(5000.0, 9000.0, N_DATES)
                    v = np.where(qa == CLEAR_QA, v, junk)
                    rows[b].append(np.rint(v[::-1]).astype("int32").tolist())
                rows["qas"].append(qa[::-1].astype("int32").tolist())
                rows["dates"].append(desc)
                for k, val in zip(("cx", "cy", "px", "py"), (cx, cy, px, py)):
                    rows[k].append(val)
                clear = dates[qa == CLEAR_QA]
                truth[(cx, cy, px, py)] = (int(clear[0]), int(clear[-1]), brk)
    arr = pa.list_(pa.int32())
    schema = pa.schema(
        [(k, pa.int32()) for k in ("cx", "cy", "px", "py")]
        + [("dates", arr)]
        + [(b, arr) for b in BANDS]
        + [("qas", arr)]
    )
    table = pa.table({f.name: rows[f.name] for f in schema}, schema=schema)
    return table, truth


def ard_bytes(n_pixels: int) -> int:
    """Logical input bytes of `n_pixels` ARD rows: dates, seven bands
    and QA as int32 per observation."""
    return n_pixels * N_DATES * (len(BANDS) + 2) * 4


# -- TPC-H-shaped tables ---------------------------------------------------------

# rows per unit of scale factor, as in the registry's test data
# (sf0.1: 15k customers, 1k suppliers, 20k parts, 150k orders, 600k
# lineitems, 100k events from 1.5k users)
PER_SF = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "users": 15_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = (["blue", "cold", "hot", "large", "old", "red", "small", "tiny"],
              ["bolt", "gear", "nut", "pipe", "plate", "ring", "rod", "screw"])
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DAY0 = np.datetime64("1995-01-01", "us")
ORDER_DAYS, SHIP_DAYS = 2405, 2500  # o_orderdate / l_shipdate spans
EVENTS_START = np.datetime64("2024-01-01", "us")
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000
OLAP_SF = 0.01  # scale factor of the headline queries' tables


def _rows(table: str, sf: float) -> int:
    return int(round(PER_SF[table] * sf))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def lineitem(rng: np.random.Generator, sf: float) -> pd.DataFrame:
    """TPC-H-shaped lineitem: uniform order, part and supplier keys,
    1-7 line numbers, 1-50 quantities, prices 900-105000, discounts
    0.00-0.10, taxes 0.00-0.08, ship dates 1995-2001."""
    n = _rows("lineitem", sf)
    return pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, _rows("orders", sf), n).astype("int64"),
            "l_partkey": rng.integers(0, _rows("part", sf), n).astype("int64"),
            "l_suppkey": rng.integers(0, _rows("supplier", sf), n).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n).astype("int32"),
            "l_quantity": rng.integers(1, 51, n).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n).astype(object),
            "l_linestatus": rng.choice(["F", "O"], n).astype(object),
            "l_shipdate": DAY0 + rng.integers(1, SHIP_DAYS, n).astype("timedelta64[D]"),
        }
    )


def star_schema(seed: int) -> dict[str, pd.DataFrame]:
    """The eight tables of the registry's test data at OLAP_SF."""
    sf = OLAP_SF
    rng = np.random.default_rng((seed, 1))
    n_cust, n_supp, n_part, n_ord, n_ev = (
        _rows(t, sf) for t in ("customer", "supplier", "part", "orders", "events")
    )

    def names(prefix: str, n: int) -> np.ndarray:
        return np.array([f"{prefix}#{i:09d}" for i in range(n)], dtype=object)

    adj, noun = PART_WORDS
    return {
        "region": pd.DataFrame(
            {"r_regionkey": np.arange(5, dtype="int32"), "r_name": REGIONS}
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype="int32"),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": np.arange(25, dtype="int32") % 5,
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype="int64"),
                "c_name": names("Customer", n_cust),
                "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(SEGMENTS, n_cust).astype(object),
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype="int64"),
                "s_name": names("Supplier", n_supp),
                "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype="int64"),
                "p_name": (rng.choice(adj, n_part).astype(object) + " "
                           + rng.choice(noun, n_part).astype(object)),
                "p_brand": (pd.Series(rng.integers(1, 26, n_part)).astype(str)
                            .radd("Brand#").to_numpy(dtype=object)),
                "p_type": rng.choice(PART_TYPES, n_part).astype(object),
                "p_size": rng.integers(1, 51, n_part).astype("int32"),
                "p_retailprice": 900.0 + rng.integers(0, 1000, n_part) / 10.0,
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype="int64"),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).astype(object),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                "o_orderdate": DAY0 + rng.integers(0, ORDER_DAYS, n_ord).astype("timedelta64[D]"),
                "o_orderpriority": rng.choice(PRIORITIES, n_ord).astype(object),
            }
        ),
        "lineitem": lineitem(rng, sf),
        "events": pd.DataFrame(
            {
                "event_id": np.arange(n_ev, dtype="int64"),
                "ts": EVENTS_START + rng.integers(0, EVENTS_SPAN_US, n_ev).astype("timedelta64[us]"),
                "user_id": rng.integers(0, _rows("users", sf), n_ev).astype("int64"),
                "event_type": rng.choice(EVENT_TYPES, n_ev).astype(object),
                "value": np.where(rng.random(n_ev) < 0.1, 0.0,
                                  np.round(rng.exponential(60.0, n_ev), 2)),
                "props": (pd.Series(rng.integers(0, 100, n_ev)).astype(str)
                          .map('{{"k": {}}}'.format).to_numpy(dtype=object)),
            }
        ),
    }


def write_star_schema(seed: int, out_dir: str) -> dict[str, int]:
    """Write `star_schema` as one `<table>.parquet` file per table
    (a single file, as the events stream source expects). Returns the
    bytes written per table."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, df in star_schema(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
        sizes[name] = os.path.getsize(path)
    return sizes


# -- lakehouse table and MERGE batches ------------------------------------------

LAKE_SF = 0.1  # 600k lineitem rows
LAKE_COLS = [
    "lk", "orderkey", "partkey", "suppkey",
    "quantity", "extendedprice", "discount", "rev",
]
LAKE_ROW_BYTES = 8 * len(LAKE_COLS)  # every column is 8 bytes wide
INSERT_SHARE = 0.2  # share of an upsert batch that is new keys
RECENT = 30_000  # upserts update keys among this many newest


def lake_rows(li: pd.DataFrame) -> pd.DataFrame:
    """The lakehouse table: lineitem in (orderkey, linenumber) order
    with a dense surrogate key `lk` and a revision counter `rev`."""
    li = li.sort_values(["l_orderkey", "l_linenumber"], kind="mergesort")
    return pd.DataFrame(
        {
            "lk": np.arange(len(li), dtype="int64"),
            "orderkey": li.l_orderkey.to_numpy(),
            "partkey": li.l_partkey.to_numpy(),
            "suppkey": li.l_suppkey.to_numpy(),
            "quantity": li.l_quantity.to_numpy(),
            "extendedprice": li.l_extendedprice.to_numpy(),
            "discount": li.l_discount.to_numpy(),
            "rev": np.zeros(len(li), dtype="int64"),
        }
    )


def lake_batch(
    rng: np.random.Generator, next_key: int, n: int, rev: int, backfill: bool
) -> pd.DataFrame:
    """One MERGE source of `n` distinct keys, all stamped `rev`.

    A recency-skewed upsert updates keys among the newest RECENT
    (exponentially weighted toward the top) and inserts a share
    INSERT_SHARE of new keys from `next_key` up; a backfill updates
    `n` keys drawn uniformly from the whole table, always including
    its lowest and highest key, so its key range covers every file."""
    if backfill:
        inner = rng.choice(next_key - 2, n - 2, replace=False) + 1
        keys = np.concatenate([[0, next_key - 1], inner])
    else:
        n_new = int(n * INSERT_SHARE)
        w = np.exp(-np.arange(RECENT) / (RECENT / 4.0))
        back = rng.choice(RECENT, n - n_new, replace=False, p=w / w.sum())
        keys = np.concatenate(
            [next_key - 1 - back, np.arange(next_key, next_key + n_new)]
        )
    keys = np.sort(keys.astype("int64"))
    m = len(keys)
    return pd.DataFrame(
        {
            "lk": keys,
            "orderkey": rng.integers(0, _rows("orders", LAKE_SF), m).astype("int64"),
            "partkey": rng.integers(0, _rows("part", LAKE_SF), m).astype("int64"),
            "suppkey": rng.integers(0, _rows("supplier", LAKE_SF), m).astype("int64"),
            "quantity": rng.integers(1, 51, m).astype("float64"),
            "extendedprice": _money(rng, 900.0, 105000.0, m),
            "discount": rng.integers(0, 11, m) / 100.0,
            "rev": np.full(m, rev, dtype="int64"),
        }
    )
