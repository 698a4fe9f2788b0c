"""Unit tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench -q
"""

import math

import numpy as np
import pandas as pd
import pytest

from stats import (ReferenceModel, latency_summary, percentile, row_hash, self_times,
                   tail_percentile)
from workloads import same_rows


# -- percentile rule ----------------------------------------------------------


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(19) is None
    assert tail_percentile(20) == 50
    assert tail_percentile(40) == 75
    assert tail_percentile(100) == 90
    assert tail_percentile(1000) == 99


@pytest.mark.parametrize("n", range(1, 400))
def test_tail_percentile_is_the_highest_with_ten_beyond(n):
    p = tail_percentile(n)
    if p is None:
        assert n - math.ceil(0.5 * n) < 10
        return
    assert n - math.ceil(p / 100 * n) >= 10
    if p < 99:
        assert n - math.ceil((p + 1) / 100 * n) < 10


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile([3.0], 99) == 3.0
    assert percentile([5, 1, 4, 2, 3], 50) == 3


def test_latency_summary_reports_tail_only_when_supported():
    s = latency_summary([1.0] * 15)
    assert s["n"] == 15 and s["p50"] == 1.0 and s["tail"] is None
    s = latency_summary([float(i) for i in range(1, 101)])
    assert s["tail_pct"] == 90 and s["tail"] == 90.0


# -- self time from nested spans ------------------------------------------------


def _span(i, parent, layer, start, end):
    return {"id": i, "parent": parent, "layer": layer, "start": start, "end": end}


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(1, None, "bench", 0.0, 10.0),
        _span(2, 1, "meta", 1.0, 4.0),
        _span(3, 1, "spark", 3.0, 6.0),  # overlaps its sibling
        _span(4, 2, "spark", 2.0, 3.0),
    ]
    st = self_times(spans)
    assert st["bench"] == pytest.approx(5.0)  # 10 - union[1, 6]
    assert st["meta"] == pytest.approx(2.0)  # 3 - 1
    assert st["spark"] == pytest.approx(4.0)  # 3 + 1


def test_self_time_clips_children_to_parent_and_sums_layers():
    spans = [
        _span(1, None, "table.write", 0.0, 2.0),
        _span(2, 1, "table.maint", 1.5, 3.0),  # outlives its parent
        _span(3, None, "table.write", 5.0, 6.0),
    ]
    st = self_times(spans)
    assert st["table.write"] == pytest.approx(1.5 + 1.0)
    assert st["table.maint"] == pytest.approx(1.5)


def test_self_times_add_up_to_root_durations():
    rng = np.random.default_rng(0)
    spans, nid = [], 1
    for r in range(5):
        start = r * 10.0
        spans.append(_span(nid, None, "bench", start, start + 8.0))
        parent, lo, hi = nid, start, start + 8.0
        nid += 1
        for depth in range(3):  # a properly nested chain
            a = lo + rng.random() * (hi - lo) / 3
            b = hi - rng.random() * (hi - lo) / 3
            spans.append(_span(nid, parent, f"l{depth}", a, b))
            parent, lo, hi = nid, a, b
            nid += 1
    assert sum(self_times(spans).values()) == pytest.approx(5 * 8.0)


# -- order-independent row hash -------------------------------------------------


COLS = ["k", "a", "b", "s"]


def _frame():
    return pd.DataFrame({"k": np.arange(50, dtype="int64"),
                         "a": np.arange(50, dtype="int32") % 7,
                         "b": np.linspace(0, 1, 50),
                         "s": [f"v{i}" for i in range(50)]})


def test_row_hash_ignores_order_and_widths():
    df = _frame()
    shuffled = df.sample(frac=1.0, random_state=3)
    wide = df.astype({"a": "int64"})
    assert row_hash(df, COLS) == row_hash(shuffled, COLS) == row_hash(wide, COLS)
    assert row_hash(df, COLS)[0] == 50


def test_row_hash_sees_a_changed_value_and_a_duplicate():
    df = _frame()
    changed = df.copy()
    changed.loc[7, "s"] = "other"
    assert row_hash(changed, COLS) != row_hash(df, COLS)
    dup = pd.concat([df, df.iloc[[3]]])
    assert row_hash(dup, COLS) != row_hash(df, COLS)
    # swapping values between rows changes the row multiset
    swapped = df.copy()
    swapped.loc[[1, 2], "a"] = swapped.loc[[2, 1], "a"].to_numpy()
    assert (swapped["a"] != df["a"]).any()
    assert row_hash(swapped, COLS) != row_hash(df, COLS)


# -- reference mutation model ---------------------------------------------------


def test_model_last_write_wins_and_deletes():
    m = ReferenceModel("k", ["a"])
    m.upsert([1, 2, 3], [(10,), (20,), (30,)])
    m.upsert([2, 4], [(21,), (40,)])
    assert m.rows.get(2) == (21,) and m.rows.get(4) == (40,)
    assert m.delete_range(2, 3) == 2  # closed interval
    assert m.rows.get(2) is None and m.rows.get(3) is None and m.rows.get(1) == (10,)
    assert m.delete_range(2, 3) == 0
    m.upsert([3], [(31,)])  # re-insert after delete
    assert sorted(m.rows) == [1, 3, 4]


def test_model_insert_refuses_live_key_and_changes_nothing():
    m = ReferenceModel("k", ["a"])
    m.insert([1], [(1,)])
    with pytest.raises(KeyError):
        m.insert([5, 1], [(5,), (2,)])
    assert m.rows.get(1) == (1,) and m.rows.get(5) is None
    m.delete_range(1, 1)
    m.insert([1], [(9,)])
    assert m.rows.get(1) == (9,)


def test_model_hash_matches_equal_frame():
    m = ReferenceModel("k", ["a", "b", "s"])
    df = _frame()
    m.upsert(df["k"], df[["a", "b", "s"]].itertuples(index=False))
    m.delete_range(10, 19)
    m.upsert([10], [(1, 0.5, "x")])
    want = pd.concat([df[(df.k < 10) | (df.k > 19)],
                      pd.DataFrame({"k": [10], "a": [1], "b": [0.5], "s": ["x"]})])
    assert row_hash(m.frame(), COLS) == row_hash(want, COLS)


# -- result comparison ----------------------------------------------------------


def test_same_rows_is_order_free_with_float_tolerance():
    a = [("A", 1.0000000000001, 3), ("N", 2.0, 4)]
    b = [("N", 2.0, 4), ("A", 1.0, 3)]
    assert same_rows(a, b)
    assert not same_rows(a, [("N", 2.0, 4), ("A", 1.1, 3)])
    assert not same_rows(a, b[:1])


# -- tracer -----------------------------------------------------------------------


def test_tracer_records_nested_spans_and_restores_patches():
    from tracing import Tracer

    class Layer:
        def outer(self):
            return self.inner() + 1

        def inner(self):
            return 1

    tr = Tracer()
    tr._set(Layer, "outer", tr._wrapper(Layer.outer, "Layer.outer", "a"))
    tr._set(Layer, "inner", tr._wrapper(Layer.inner, "Layer.inner", "b"))
    assert Layer().outer() == 2 and tr.spans == []  # disabled: no spans
    tr.enabled, tr.op_id = True, "op0"
    assert Layer().outer() == 2
    inner, outer = tr.spans  # appended as they close
    assert outer["parent"] is None and inner["parent"] == outer["id"]
    assert (outer["layer"], inner["layer"]) == ("a", "b") and inner["op"] == "op0"
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    tr.uninstall()
    assert Layer.__dict__["outer"].__name__ == "outer"
    assert not hasattr(Layer.outer, "__wrapped__")
