"""Pin the driver-gate query order (r9 verdict directive #1).

The driver verifies a ~50-query prefix sample of ``queries()``; round 9
showed a live interleave is unstable under registration (a mid-module
``@register`` rotated ``stream_drift_daily`` out of the gated window).
These tests pin the frozen-prefix contract: the order covers exactly the
registry, ``stream_drift_daily`` sits inside the 50-query window, and a
synthetic new registration appends AFTER the frozen block without
moving any existing name.
"""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

from dbeam_spark.queries import QUERIES
from dbeam_spark.queries.gate_order import FROZEN_ORDER, stable_names


def _entry_module():
    spec = importlib.util.spec_from_file_location(
        "spark_entry_under_test",
        Path(__file__).resolve().parents[1] / "__spark_entry__.py",
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["spark_entry_under_test"] = mod
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.modules.pop("spark_entry_under_test", None)
    return mod


def test_frozen_order_covers_registry_exactly():
    assert sorted(FROZEN_ORDER) == sorted(QUERIES)
    assert len(set(FROZEN_ORDER)) == len(FROZEN_ORDER)


def test_entry_queries_follow_frozen_order():
    mod = _entry_module()
    names = list(mod.queries().keys())
    assert names == list(FROZEN_ORDER)


def test_stream_drift_daily_inside_gated_window():
    # The driver samples a ~50-query prefix; keep the r9 eviction victim
    # comfortably inside it.
    assert "stream_drift_daily" in FROZEN_ORDER[:50]


def test_prefix_spans_all_suites():
    # Any ~50-prefix must still sample every suite module.
    modules = {QUERIES[n].__module__ for n in FROZEN_ORDER[:50]}
    assert modules == {QUERIES[n].__module__ for n in QUERIES}


def test_new_registration_appends_never_evicts():
    fake = dict(QUERIES)
    fake["zz_synthetic_new_query"] = lambda spark, p: None
    names = stable_names(fake)
    # Every pre-existing name keeps its exact position...
    assert names[: len(FROZEN_ORDER)] == list(FROZEN_ORDER)
    # ...and the addition lands strictly after the frozen block.
    assert names[-1] == "zz_synthetic_new_query"


def test_removed_query_does_not_crash_order():
    fake = dict(QUERIES)
    fake.pop("stream_session_window_bounded")
    names = stable_names(fake)
    assert "stream_session_window_bounded" not in names
    assert len(names) == len(FROZEN_ORDER) - 1
