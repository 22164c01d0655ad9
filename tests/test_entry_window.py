"""The driver contract's check order (``__spark_entry__``) is derived
from the committed CORRECTNESS_r{N}.json records: a query's
last-checked round is the highest N whose file has a row for it, and
the driver's ~50-query window takes queries changed since their last
row first, then the stalest oracle-backed evidence."""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import warnings

import __spark_entry__ as entry
from transit_data_pipeline_spark.operators.registry import all_specs

REPO = os.path.dirname(os.path.abspath(entry.__file__))
WINDOW = 50


def test_last_checked_is_max_recorded_round():
    expect = {}
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"CORRECTNESS_r(\d+)\.json$", path).group(1))
        with open(path) as f:
            for n in json.load(f):
                expect[n] = max(expect.get(n, 0), rnd)
    assert entry._LAST_CHECKED == expect


def test_order_keeps_key_sets():
    specs = all_specs()
    assert set(entry.queries()) == set(specs)
    assert set(entry.oracle_sql()) == {n for n, s in specs.items() if s.oracle}


def test_window_takes_changed_queries_then_stalest():
    specs = all_specs()
    last = entry._LAST_CHECKED
    stale = {n for n, r in entry._CHANGED.items() if last.get(n, 0) < r}
    order = list(entry.queries())
    assert len(stale) <= WINDOW
    assert set(order[: len(stale)]) == stale
    rest = [n for n in specs if n not in stale]
    rest.sort(key=lambda n: (n in last, specs[n].oracle is None, last.get(n, 0)))
    assert order[len(stale) :] == rest
    assert order[-1] == "ml_gbt_cv_metrics"  # the one rows-only query


def test_round11_window(tmp_path):
    """Pinned to the round 1-11 records, so later records don't move it."""
    for rnd in range(1, 12):
        shutil.copy(os.path.join(REPO, f"CORRECTNESS_r{rnd:02d}.json"), tmp_path)
    last = entry._last_checked(str(tmp_path))
    changed = {n: r for n, r in entry._CHANGED.items() if r <= 11}
    order = list(entry._ordered_specs(last, changed))
    front, tail = order[:15], order[15:WINDOW]
    assert len(changed) == 15
    assert set(front) == set(changed)
    assert all(last[n] < 11 for n in front)
    specs = all_specs()
    assert all(specs[n].oracle is not None for n in tail)
    assert [last[n] for n in tail] == sorted(last[n] for n in tail)
    assert {last[n] for n in tail} == {3, 4}
    assert order[-1] == "ml_gbt_cv_metrics"


def test_no_records_keeps_registry_order(tmp_path):
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        last = entry._last_checked(str(tmp_path))
    assert last is None
    assert len(caught) == 1 and "CORRECTNESS" in str(caught[0].message)
    assert list(entry._ordered_specs(last)) == list(all_specs())
