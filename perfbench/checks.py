"""Output checks, pure functions over pandas frames.

Each `check_*` returns a list of human-readable errors; an empty list
means the output is correct. They run untimed, after the op they
judge, and perfbench/test_checks.py proves each one goes red on a
perturbed output. `is_merge_dup_defect` recognises the one known
program defect a failed merge may be excused as (NOTES.md).
"""

from __future__ import annotations

import os
import sys
from datetime import date

import numpy as np
import pandas as pd

# the registry's oracle comparison (rows, column names, dtype kinds,
# order-insensitive values), shared with tools/driver_sim.py
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from oracle_compare import compare  # noqa: E402

SENTINEL_DAY = "0001-01-01"
# a detected break lands on the first clear observation at or after
# the planted step; allow a few revisits of cloud cover before it
BREAK_TOL_DAYS = 16 * 8
RECALL_FLOOR = 0.95


def _ordinal(iso: str) -> int:
    return date.fromisoformat(iso).toordinal()


def check_ccd(
    truth: dict,
    pixel: pd.DataFrame,
    chip: pd.DataFrame,
    segment: pd.DataFrame,
) -> list[str]:
    """One chip wave's three sinks against the generator's truth.

    `truth[(cx, cy, px, py)] = (first_clear, last_clear, break)`
    (ordinals; break None for a stable pixel). Checks: one pixel row
    per input pixel and none other, one chip row per chip, every
    pixel's segments tile its clear observations (first start = first
    clear date, each break day = the next segment's start, last end =
    last clear date), and recall of planted breaks >= RECALL_FLOOR."""
    errors: list[str] = []
    keys = ["cx", "cy", "px", "py"]
    want_px = set(truth)
    want_chips = {k[:2] for k in want_px}

    got_px = [tuple(int(v) for v in r) for r in pixel[keys].itertuples(index=False)]
    if len(got_px) != len(want_px) or set(got_px) != want_px:
        errors.append(
            f"pixel table: {len(got_px)} rows / {len(set(got_px))} keys, "
            f"want {len(want_px)} (extra {len(set(got_px) - want_px)}, "
            f"missing {len(want_px - set(got_px))})"
        )
    got_chips = [tuple(int(v) for v in r) for r in chip[["cx", "cy"]].itertuples(index=False)]
    if sorted(got_chips) != sorted(want_chips):
        errors.append(f"chip table: {sorted(got_chips)} want {sorted(want_chips)}")

    hits = planted = 0
    seen: set = set()
    for k, g in segment.groupby(keys, sort=False):
        k = tuple(int(v) for v in k)
        seen.add(k)
        if k not in truth:
            errors.append(f"segment for unknown pixel {k}")
            continue
        first, last, brk = truth[k]
        g = g.sort_values("sday")
        sdays = [_ordinal(s) for s in g.sday]
        edays = [_ordinal(s) for s in g.eday]
        bdays = [None if b is None or b == SENTINEL_DAY else _ordinal(b) for b in g.bday]
        chain = (
            sdays[0] == first
            and edays[-1] == last
            and bdays[-1] is None
            and all(bdays[i] == sdays[i + 1] for i in range(len(g) - 1))
        )
        if not chain:
            errors.append(f"pixel {k}: segments do not tile its clear series")
        if brk is not None:
            planted += 1
            hits += any(b is not None and 0 <= b - brk <= BREAK_TOL_DAYS for b in bdays)
    missing = want_px - seen
    if missing:
        errors.append(f"{len(missing)} pixels without a segment")
    if planted and hits / planted < RECALL_FLOOR:
        errors.append(f"break recall {hits}/{planted} below {RECALL_FLOOR}")
    return errors


def check_query(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """A registry query's output against its DuckDB oracle's."""
    verdict = compare(got, want)
    return [f"{k} false ({len(got)} rows, oracle {len(want)})"
            for k, ok in verdict.items() if not ok]


def _row_hashes(df: pd.DataFrame) -> np.ndarray:
    """Sorted per-row hashes of (lk, rev, quantity): equal arrays mean
    equal row multisets (keys may repeat, so no key order is used)."""
    h = pd.util.hash_pandas_object(df[["lk", "rev", "quantity"]], index=False)
    return np.sort(h.to_numpy())


def check_merge(
    before: pd.DataFrame, after: pd.DataFrame, batch: pd.DataFrame
) -> list[str]:
    """One MERGE judged against the table state before it, so a bad
    commit fails only its own op: the batch's keys each appear exactly
    once afterwards carrying the batch's values, every other row is
    untouched, and the row count is what upsert semantics give."""
    errors: list[str] = []
    in_b = before.lk.isin(batch.lk)
    want_rows = int((~in_b).sum()) + len(batch)
    if len(after) != want_rows:
        errors.append(f"rows {len(after)} want {want_rows}")
    want_keys = before.lk.nunique() + int((~batch.lk.isin(before.lk)).sum())
    got_keys = after.lk.nunique()
    if got_keys != want_keys:
        errors.append(f"distinct keys {got_keys} want {want_keys}")
    hit = after[after.lk.isin(batch.lk)].merge(
        batch[["lk", "rev", "quantity"]], on="lk", suffixes=("", "_want")
    )
    if len(hit) != len(batch) or hit.lk.nunique() != len(batch):
        errors.append(f"batch keys present as {len(hit)} rows, want {len(batch)}")
    stale = int(((hit.rev != hit.rev_want) | (hit.quantity != hit.quantity_want)).sum())
    if stale:
        errors.append(f"{stale} batch rows without the merged values")
    rest_before = _row_hashes(before[~in_b])
    rest_after = _row_hashes(after[~after.lk.isin(batch.lk)])
    if not np.array_equal(rest_before, rest_after):
        errors.append("rows outside the batch changed")
    return errors


def is_merge_dup_defect(
    before: pd.DataFrame, after: pd.DataFrame, batch: pd.DataFrame
) -> bool:
    """True when `after` is exactly the known MERGE-under-cached-
    snapshot defect: nothing was rewritten, so the table holds every
    row it held before plus every batch row appended (the batch's
    existing keys twice, old and new values). Any other wrong state
    is False."""
    want = pd.concat([before, batch[["lk", "rev", "quantity"]]], ignore_index=True)
    return len(after) == len(want) and np.array_equal(
        _row_hashes(after), _row_hashes(want)
    )


def check_read(state: pd.DataFrame, n_cached: int, qty_sum: float,
               lo: int, hi: int, n_range: int) -> list[str]:
    """The reader's cached aggregate and key-range scan against the
    table state they read."""
    errors: list[str] = []
    if n_cached != len(state):
        errors.append(f"cached snapshot rows {n_cached} want {len(state)}")
    want_sum = float(state.quantity.sum())
    if not np.isclose(qty_sum, want_sum, rtol=1e-12, atol=1e-6):
        errors.append(f"cached sum(quantity) {qty_sum} want {want_sum}")
    want_range = int(state.lk.between(lo, hi).sum())
    if n_range != want_range:
        errors.append(f"scan[{lo},{hi}] rows {n_range} want {want_range}")
    return errors
