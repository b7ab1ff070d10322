"""Tests for the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np
import pandas as pd
import pytest

from perfbench.cube import NODATA, CubeSpec, generate, make_values
from perfbench.measure import Span, Tracer, median, self_time, tail
from perfbench.oracle import _CachedCon, _Rows
from perfbench.workloads import (
    KNOWN_DEFECTS, Context, QueryWorkload, check_stats, expected_stats, pixel_stats,
)

SMALL = CubeSpec(width=32, height=32, ndates=5, append_dates=2, tile=16, frac=16,
                 frac_ndates=3, missing_tiles=2)


# --- tail rule ------------------------------------------------------------

@pytest.mark.parametrize("n", [20, 21, 30, 57, 100, 1000])
def test_tail_is_highest_percentile_with_ten_beyond(n):
    values = [float(i) for i in range(n)]
    value, p, beyond = tail(values)
    rank = math.ceil(p * n / 100)
    assert value == values[rank - 1]
    assert beyond == n - rank >= 10
    if p < 99:  # the next percentile up leaves fewer than ten beyond
        assert n - math.ceil((p + 1) * n / 100) < 10


def test_tail_examples():
    assert tail([float(i) for i in range(100)]) == (89.0, 90, 10)
    assert tail([float(i) for i in range(30)]) == (19.0, 66, 10)


@pytest.mark.parametrize("n", [1, 8, 19])
def test_tail_falls_back_to_max_below_twenty_samples(n):
    values = [float((i * 7) % n) for i in range(n)]
    assert tail(values) == (max(values), 100, 0)


def test_tail_ignores_input_order():
    rng = np.random.default_rng(0)
    v = list(rng.random(50))
    assert tail(v) == tail(sorted(v))


def test_median():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 2.0, 3.0]) == 2.5


# --- span self time ---------------------------------------------------------

def test_self_time_merges_overlapping_children_and_clips():
    parent = Span("p", 0.0, 10.0, None, "op")
    kids = [
        Span("a", 1.0, 3.0, 0, "op"),
        Span("b", 2.0, 5.0, 0, "op"),  # overlaps a: [1, 5] counted once
        Span("c", 7.0, 8.0, 0, "op"),
        Span("d", 9.5, 12.0, 0, "op"),  # clipped to the parent's end
    ]
    assert self_time(parent, kids) == pytest.approx(10 - 4 - 1 - 0.5)
    assert self_time(parent, []) == 10.0


def test_tracer_nests_and_sums_self_time():
    tr = Tracer(enabled=True)
    with tr.span("op", op="q1"):
        with tr.span("construct"):
            pass
        with tr.span("execute"):
            pass
    op, construct, execute = tr.spans
    assert (construct.parent, execute.parent, op.parent) == (0, 0, None)
    assert construct.op == execute.op == "q1"
    st = tr.self_times()
    assert st["op"] == pytest.approx(op.duration - construct.duration - execute.duration)
    assert st["construct"] == pytest.approx(construct.duration)


def test_disabled_tracer_times_but_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("op") as s:
        pass
    assert s.seconds >= 0 and tr.spans == []


# --- failures are counted ---------------------------------------------------

class _FakeOracle:
    """Answers with fixed rows, checked by the repo's compare()."""

    def __init__(self, answers):
        self.answers = answers

    def check(self, name, sql, columns, rows):
        from rastercube_spark.testing import compare

        cols, want = self.answers[name]
        return compare(_Rows(columns, rows), _CachedCon(_Rows(cols, want)), sql)


def _boom(spark, sf_dir):
    raise RuntimeError("injected")


def test_wrong_and_raising_operations_count_as_failed():
    good = [(1, "a"), (2, "b")]
    queries = {
        "good": lambda spark, sf: _Rows(["id", "v"], list(good)),
        "wrong": lambda spark, sf: _Rows(["id", "v"], [(1, "a"), (2, "x")]),
        "short": lambda spark, sf: _Rows(["id", "v"], [(1, "a")]),
        "boom": _boom,
    }
    wl = QueryWorkload(tuple(queries), "", "", _FakeOracle({n: (["id", "v"], good) for n in queries}))
    wl.queries, wl.oracle_sql = queries, dict.fromkeys(queries, "")
    ctx = Context(None, Tracer(enabled=False), None, 1, "")
    rec = wl.run_pass(ctx, np.random.default_rng(0), 0)
    assert rec.attempted == 4 and rec.failed == 3
    assert len(rec.op_latencies) == 4
    assert sorted(u.split(":")[0] for u in rec.unexpected) == ["boom", "short", "wrong"]
    assert 1 - rec.failed / rec.attempted == 0.25


def test_known_defect_is_counted_but_expected():
    name = next(iter(KNOWN_DEFECTS))
    queries = {name: lambda spark, sf: _Rows(["id"], [(1,)])}
    wl = QueryWorkload((name,), "", "", _FakeOracle({name: (["id"], [(1,), (2,)])}))
    wl.queries, wl.oracle_sql = queries, {name: ""}
    rec = wl.run_pass(Context(None, Tracer(False), None, 1, ""), np.random.default_rng(0), 0)
    assert rec.failed == 1 and rec.unexpected == []


# --- generator ----------------------------------------------------------------

def _digest(d):
    h = hashlib.sha256()
    for root, _, names in sorted(os.walk(d)):
        for n in sorted(names):
            h.update(n.encode())
            with open(os.path.join(root, n), "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def test_generator_same_seed_same_bytes_other_seed_differs(tmp_path):
    a = generate(SMALL, 5, str(tmp_path / "a"))
    b = generate(SMALL, 5, str(tmp_path / "b"))
    c = generate(SMALL, 6, str(tmp_path / "c"))
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")
    assert all((x == y).all() for x, y in zip(a, b))
    assert not (a[0] == c[0]).all()


def test_generator_shape_nodata_and_missing_tiles(tmp_path):
    values, present = generate(SMALL, 1, str(tmp_path))
    assert values.shape == (32, 32, 7) and values.dtype == np.int16
    assert (values[~present] == NODATA).all()
    tiles = os.listdir(tmp_path / "tiles")
    assert len(tiles) == 4 * SMALL.ndates - SMALL.missing_tiles
    assert present[:, :, SMALL.ndates:].all()  # appended dates are dense
    frac_nodata = ((values == NODATA) & present).sum() / present.sum()
    assert 0.02 < frac_nodata < 0.08
    from rastercube_spark.sources.geotiff import geotiff_tile_codec

    name = sorted(tiles)[0]
    with open(tmp_path / "tiles" / name, "rb") as f:
        arr, x0, y0, t = geotiff_tile_codec(name, f.read())
    assert (arr == values[y0 : y0 + 16, x0 : x0 + 16, t]).all()


# --- map_chunks output check --------------------------------------------------

def _stats_like_spark(spec, values, present):
    """What map_chunks(pixel_stats) returns, computed with pandas."""
    y, x, t = np.nonzero(present)
    long = pd.DataFrame({
        "frac_num": (y // spec.frac) * (spec.width // spec.frac) + x // spec.frac,
        "time_chunk": t // spec.frac_ndates, "x": x, "y": y, "t": t,
        "value": values[y, x, t],
    })
    return pd.concat(pixel_stats(g) for _, g in long.groupby(["frac_num", "time_chunk"]))


def test_pixel_stats_matches_numpy_reference_and_detects_corruption():
    values, present = make_values(SMALL, 3)
    expected = expected_stats(SMALL, values, present)
    out = _stats_like_spark(SMALL, values, present)
    assert check_stats(SMALL, out, expected) is None
    bad = out.copy()
    bad.iloc[5, bad.columns.get_loc("s")] += 1
    assert "column s" in check_stats(SMALL, bad, expected)
    assert "rows" in check_stats(SMALL, out.iloc[1:], expected)
