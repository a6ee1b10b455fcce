"""Checks on the benchmark's own pieces that need no Spark session.

Run with ``python3 -m pytest perfbench/test_contract.py``.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pandas as pd

import datagen
import landings
from run import END_TO_END_UNITS
from tracing import PER_LAYER_UNITS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_benchmark_json_lists_the_metrics_the_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} == {"canary", "scd2_pipeline"}


def test_warehouse_is_a_function_of_the_seed():
    a, b, c = (datagen.make_tables(s, 0.001) for s in (1, 1, 2))
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000 and a["documents"].num_rows == 500


def _initial_curated(expected: pd.DataFrame, day: dt.date) -> pd.DataFrame:
    return expected.assign(effective_from=day, effective_to=landings.OPEN_END, is_current=True)


def test_landings_are_seeded_and_dirty_rows_leave_staging():
    gen, again = landings.Landings(5, 4000, 20), landings.Landings(5, 4000, 20)
    gen.advance(), again.advance()
    assert gen.expected().equals(again.expected())
    assert len(gen.expected()) == 4000 - (gen.dirty == "bad_id").sum()
    before = gen.expected()
    gen.advance()
    # 5 % changed + 1 % left, plus keys whose landed row turned dirty
    assert 240 <= landings.changed_keys(before, gen.expected()) <= 300


def test_scd2_check_accepts_a_correct_table_and_flags_violations():
    gen = landings.Landings(3, 2000, 10)
    gen.advance()
    day, expected = gen.load_date, gen.expected()
    good = _initial_curated(expected, day)
    assert landings.check_scd2(good, expected, day, 0) == []

    two_open = pd.concat([good, good.iloc[:1]], ignore_index=True)
    assert any(">1 open" in p for p in landings.check_scd2(two_open, expected, day, 0))

    wrong_value = good.copy()
    wrong_value.loc[0, "salary"] = wrong_value.loc[0, "salary"] + 1
    assert any("values differ" in p for p in landings.check_scd2(wrong_value, expected, day, 0))

    assert any("closed" in p for p in landings.check_scd2(good, expected, day, 5))
