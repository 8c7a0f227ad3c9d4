"""Self-test of the benchmark's output checks: each goes red on a
perturbed output (a dropped row, a duplicated key, an altered value, a
mis-segmented pixel) and stays green on the unperturbed one.

    python -m pytest perfbench/test_checks.py -q

Pure pandas; no Spark session.
"""

from __future__ import annotations

import os
import sys
from datetime import date

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import corpus  # noqa: E402


def _iso(o: int) -> str:
    return date.fromordinal(o).isoformat()


# -- change-detection sinks -----------------------------------------------------


def _sinks(truth: dict):
    """Sinks a correct detector would write for `truth`: one segment
    per stable pixel, two split at the planted break otherwise."""
    pix, seg = [], []
    for (cx, cy, px, py), (first, last, brk) in truth.items():
        pix.append((cx, cy, px, py))
        if brk is None:
            seg.append((cx, cy, px, py, _iso(first), _iso(last), None))
        else:
            seg.append((cx, cy, px, py, _iso(first), _iso(brk - 16), _iso(brk)))
            seg.append((cx, cy, px, py, _iso(brk), _iso(last), None))
    keys = ["cx", "cy", "px", "py"]
    pixel = pd.DataFrame(pix, columns=keys)
    chip = pixel[["cx", "cy"]].drop_duplicates().reset_index(drop=True)
    segment = pd.DataFrame(seg, columns=keys + ["sday", "eday", "bday"])
    return pixel, chip, segment


@pytest.fixture
def wave():
    _, truth = corpus.ard_tile(3, [(0, 0)], side=5)
    assert any(v[2] for v in truth.values()) and any(v[2] is None for v in truth.values())
    return truth, *_sinks(truth)


def test_ccd_check_green(wave):
    truth, pixel, chip, segment = wave
    assert checks.check_ccd(truth, pixel, chip, segment) == []


def _break_pixel(truth):
    return next(k for k, v in truth.items() if v[2] is not None)


def test_ccd_dropped_pixel_row(wave):
    truth, pixel, chip, segment = wave
    assert checks.check_ccd(truth, pixel.iloc[1:], chip, segment)


def test_ccd_duplicated_pixel_key(wave):
    truth, pixel, chip, segment = wave
    assert checks.check_ccd(truth, pd.concat([pixel, pixel.iloc[[0]]]), chip, segment)


def test_ccd_duplicated_chip_row(wave):
    truth, pixel, chip, segment = wave
    assert checks.check_ccd(truth, pixel, pd.concat([chip, chip]), segment)


def test_ccd_altered_value(wave):
    truth, pixel, chip, segment = wave
    bad = segment.copy()
    bad.loc[bad.index[0], "sday"] = _iso(date.fromisoformat(bad.sday.iloc[0]).toordinal() + 16)
    assert checks.check_ccd(truth, pixel, chip, bad)


def test_ccd_mis_segmented_pixel(wave):
    """The planted break is missing: the pixel is one segment."""
    truth, pixel, chip, segment = wave
    k = _break_pixel(truth)
    first, last, _ = truth[k]
    mine = (segment[["cx", "cy", "px", "py"]].apply(tuple, axis=1) == k)
    merged = pd.DataFrame([[*k, _iso(first), _iso(last), None]], columns=segment.columns)
    bad = pd.concat([segment[~mine], merged], ignore_index=True)
    errors = checks.check_ccd(truth, pixel, chip, bad)
    assert any("recall" in e for e in errors)


def test_ccd_pixel_without_segments(wave):
    truth, pixel, chip, segment = wave
    k = _break_pixel(truth)
    mine = (segment[["cx", "cy", "px", "py"]].apply(tuple, axis=1) == k)
    assert checks.check_ccd(truth, pixel, chip, segment[~mine])


# -- lakehouse MERGE ------------------------------------------------------------


@pytest.fixture
def merge_case(monkeypatch):
    monkeypatch.setattr(corpus, "RECENT", 400)  # a 1,000-row table
    rng = np.random.default_rng(5)
    before = pd.DataFrame(
        {"lk": np.arange(1000, dtype="int64"), "rev": np.zeros(1000, dtype="int64"),
         "quantity": rng.integers(1, 51, 1000).astype("float64")}
    )
    batch = corpus.lake_batch(rng, 1000, 100, rev=1, backfill=False)
    new = batch[["lk", "rev", "quantity"]]
    after = pd.concat([before[~before.lk.isin(batch.lk)], new], ignore_index=True)
    return before, after.sample(frac=1, random_state=2), batch


def test_merge_check_green(merge_case):
    assert checks.check_merge(*merge_case) == []


def test_merge_dropped_row(merge_case):
    before, after, batch = merge_case
    assert checks.check_merge(before, after.iloc[1:], batch)


def test_merge_duplicated_key(merge_case):
    """The MERGE-under-cache defect: matched keys inserted, not replaced."""
    before, after, batch = merge_case
    old = before[before.lk.isin(batch.lk)]
    assert checks.check_merge(before, pd.concat([after, old]), batch)


def test_merge_dup_defect_recognised(merge_case):
    """The documented defect: the batch appended, nothing rewritten."""
    before, _, batch = merge_case
    dup = pd.concat([before, batch[["lk", "rev", "quantity"]]], ignore_index=True)
    assert checks.check_merge(before, dup, batch)
    assert checks.is_merge_dup_defect(before, dup, batch)


def test_merge_other_failures_are_not_the_defect(merge_case):
    """A failure that is not exactly the appended batch is no known
    defect, so it clears `correct`."""
    before, after, batch = merge_case
    dup = pd.concat([before, batch[["lk", "rev", "quantity"]]], ignore_index=True)
    altered = dup.copy()
    altered.loc[0, "quantity"] += 1.0
    for bad in (after, after.iloc[1:], dup.iloc[1:], altered,
                pd.concat([dup, dup.iloc[[0]]])):
        assert not checks.is_merge_dup_defect(before, bad, batch)


def test_merge_altered_value(merge_case):
    before, after, batch = merge_case
    bad = after.copy()
    i = bad.index[bad.lk == batch.lk.iloc[0]][0]
    bad.loc[i, "rev"] = 0
    assert checks.check_merge(before, bad, batch)


def test_merge_altered_untouched_row(merge_case):
    before, after, batch = merge_case
    bad = after.copy()
    i = bad.index[~bad.lk.isin(batch.lk)][0]
    bad.loc[i, "quantity"] += 1.0
    assert checks.check_merge(before, bad, batch)


def test_read_check(merge_case):
    _, after, _ = merge_case
    n, qty = len(after), float(after.quantity.sum())
    in_range = int(after.lk.between(900, 1100).sum())
    assert checks.check_read(after, n, qty, 900, 1100, in_range) == []
    assert checks.check_read(after, n - 1, qty, 900, 1100, in_range)
    assert checks.check_read(after, n, qty + 1.0, 900, 1100, in_range)
    assert checks.check_read(after, n, qty, 900, 1100, in_range + 1)


# -- registry query vs its oracle -----------------------------------------------


@pytest.fixture
def query_out():
    rng = np.random.default_rng(7)
    return pd.DataFrame(
        {"k": np.arange(50, dtype="int64"), "tag": rng.choice(["a", "b"], 50),
         "v": np.round(rng.uniform(0, 100, 50), 2)}
    )


def test_query_check_green(query_out):
    assert checks.check_query(query_out.sample(frac=1, random_state=1), query_out) == []


def test_query_dropped_row(query_out):
    assert checks.check_query(query_out.iloc[1:], query_out)


def test_query_duplicated_row(query_out):
    bad = pd.concat([query_out.iloc[1:], query_out.iloc[[2]]], ignore_index=True)
    assert checks.check_query(bad, query_out)


def test_query_altered_value(query_out):
    bad = query_out.copy()
    bad.loc[3, "v"] += 0.01
    assert checks.check_query(bad, query_out)


def test_query_changed_dtype_kind(query_out):
    assert checks.check_query(query_out.astype({"k": "float64"}), query_out)
