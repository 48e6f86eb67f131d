"""Tests of the benchmark's own logic (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import store_client  # noqa: E402
from stats import iqr_share, percentile, tail_percentile  # noqa: E402
from tracing import Span, Tracer, covered, self_times  # noqa: E402


def _gen(seed):
    return gen.ChangeGen(seed, ("a", "b"), (0.6, 0.4), 1000, 1.1, (0.2, 0.7, 0.1), 0.05,
                         10_000, 100, dt.datetime(2024, 1, 1))


def test_change_events_are_a_function_of_the_seed():
    one, two = _gen(7), _gen(7)
    assert one.arrow(one.columns(0, 9000)).equals(two.arrow(two.columns(0, 9000)))
    other = _gen(8)
    assert not one.arrow(one.columns(0, 9000)).equals(other.arrow(other.columns(0, 9000)))


def test_change_events_do_not_depend_on_how_the_range_is_split():
    g = _gen(3)
    whole = g.columns(0, 10_000)
    parts = [g.columns(a, b - a) for a, b in ((0, 1), (1, 4097), (4097, 10_000))]
    for k, v in whole.items():
        assert (np.concatenate([p[k] for p in parts]) == v).all()


def test_fixture_tables_are_a_function_of_the_seed():
    a, b, c = gen.tpch_tables(5, 0.001), gen.tpch_tables(5, 0.001), gen.tpch_tables(6, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000 and a["customer"].num_rows == 150


def test_store_client_script_is_seeded_and_keeps_the_mix():
    s = store_client.op_sequence(11, 3)
    assert s == store_client.op_sequence(11, 3) and s != store_client.op_sequence(12, 3)
    assert [op for op, _t, _u in s] == list(store_client.BLOCK) * 3
    block = store_client.BLOCK
    mix = {op: block.count(op) / len(block) for op in store_client.OPS}
    assert mix == {"replay": 0.40, "last_change": 0.15, "rebuild": 0.15,
                   "append_epoch": 0.25, "compact_txn": 0.05}


def test_latest_image_keeps_the_greatest_ts_then_offset_and_drops_deletes():
    cols = {
        "table": np.array([0, 0, 0, 1, 1]),
        "pk": np.array([1, 1, 1, 1, 1]),
        "ts": np.array([10, 30, 30, 5, 6]),
        "offset": np.array([0, 1, 2, 3, 4]),
        "action": np.array([0, 1, 1, 0, 2]),
        "val": np.array([7, 8, 9, 1, 2]),
    }
    assert gen.latest_image(cols) == {(0, 1): (30, 2, 9)}


@pytest.mark.parametrize(
    "n, p", [(19, None), (20, 50), (21, 52), (100, 90), (160, 93), (1000, 99), (5000, 99)]
)
def test_tail_percentile_leaves_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p
    if p is not None:
        assert n * (100 - p) / 100 >= 10
        assert p == 99 or n * (100 - (p + 1)) / 100 < 10


def test_percentile_and_spread():
    xs = [5, 1, 4, 2, 3]
    assert percentile(xs, 50) == 3 and percentile(xs, 100) == 5 and percentile(xs, 25) == 2
    assert iqr_share([1, 2, 3, 4, 5, 6, 7, 8, 9]) == pytest.approx((7.5 - 2.5) / 5)


def test_covered_merges_overlaps_and_clips_to_the_parent():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3


def test_self_time_subtracts_only_the_time_children_cover():
    spans = [
        Span(1, "root", "t", None, 0.0, 10.0),
        Span(2, "a", "t", 1, 1.0, 4.0),
        Span(3, "b", "t", 1, 3.0, 6.0),  # overlaps a: covered 1..6
        Span(4, "c", "t", 2, 1.5, 2.0),
    ]
    st = self_times(spans)
    assert st == {1: pytest.approx(5.0), 2: pytest.approx(2.5), 3: pytest.approx(3.0),
                  4: pytest.approx(0.5)}


def test_tracer_nests_spans_per_thread_and_is_inert_when_off():
    tr = Tracer(True)
    with tr.span("outer", trace="op1"):
        with tr.span("inner") as sp:
            pass
    inner, outer = tr.spans
    assert inner.parent == outer.id and inner.trace == "op1" and sp is inner
    off = Tracer(False)
    with off.span("x") as sp:
        assert sp is None
    assert off.spans == []


def _events(seed, n=400):
    rng = np.random.default_rng(seed)
    return {
        "table": rng.integers(0, 2, n),
        "pk": rng.integers(0, 15, n),
        "ts": rng.integers(0, 5 * store_client.DAY_US, n),
        "offset": np.arange(n),
        "action": rng.integers(0, 3, n),
        "val": rng.integers(0, 100, n),
    }


def _brute_latest(rows, as_of=None):
    best = {}
    for r in rows:
        if as_of is not None and r["ts"] > as_of:
            continue
        k = (r["table"], r["pk"])
        if k not in best or (r["ts"], r["offset"]) > (best[k]["ts"], best[k]["offset"]):
            best[k] = r
    return {k: r for k, r in best.items() if r["action"] != 2}


def test_reference_reads_match_a_row_by_row_model_across_compaction():
    ref = store_client.Reference(0)
    ref.append(_events(1))
    rows = [dict(zip(ref.cols, vals)) for vals in zip(*ref.cols.values())]
    for _ in range(2):
        for ti in (0, 1):
            mine = [r for r in rows if r["table"] == ti]
            lo, hi = store_client.DAY_US, 2 * store_client.DAY_US
            sel = [r for r in mine if lo <= r["ts"] < hi]
            assert ref.replay(ti, lo, hi) == (len(sel), sum(r["offset"] for r in sel))
            pks = {r["pk"] for r in mine}
            assert ref.last_change(ti) == (
                len(pks),
                sum(max(r["offset"] for r in mine if r["pk"] == p) for p in pks),
                sum(max(r["ts"] for r in mine if r["pk"] == p) for p in pks),
            )
            latest = _brute_latest(mine, hi)
            assert ref.rebuild(ti, hi) == (
                len(latest), sum(r["ts"] for r in latest.values()),
                sum(r["val"] for r in latest.values()))
        # compaction keeps only the latest live image per key
        ref.compact()
        rows = list(_brute_latest(rows).values())
        assert sorted(ref.cols["offset"].tolist()) == sorted(r["offset"] for r in rows)


def test_properties_cover_the_runner_spec():
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    with open(os.path.join(root, "perfbench", "properties.json")) as fh:
        props = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(props["workloads"])
    assert {m["name"] for m in spec["end_to_end"]} <= set(props["end_to_end"])
    mapped = [name for entry in props["layer_map"] for name in entry["layer"]]
    assert sorted(mapped) == sorted(m["name"] for m in spec["per_layer"])
