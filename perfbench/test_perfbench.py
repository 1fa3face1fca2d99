"""Fast tests of the benchmark's own reference calculators and checks (no Spark).

    python3 -m pytest perfbench -q
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import oracle  # noqa: E402
from dashboard import FIXED_GAP, Lake, fn_step, name, plan_round  # noqa: E402
from ingest import BANNED, MALFORMED, NEW, UPDATES, Bursts  # noqa: E402
from tree import Names  # noqa: E402


# -- reference calculators against hand-worked cases --------------------------

def test_lww_keeps_greatest_updated_in_any_order():
    rows = [(60, 1.0, 10), (60, 9.0, 30), (60, 5.0, 20), (120, 4.0, 1)]
    assert oracle.lww(rows) == {60: 9.0, 120: 4.0}
    assert oracle.lww(reversed(rows)) == {60: 9.0, 120: 4.0}


def test_bucket_series_per_function_with_gap_fill():
    pts = {1000: 1.0, 1050: 3.0, 1130: 5.0, 1390: 7.0}
    # window 1000..1400 on a 120 s grid: first bucket 960, three buckets
    assert oracle.query_window(1000, 1400, 120) == (960, 1320)
    assert oracle.bucket_series(pts, 120, "avg", 1000, 1400) == [
        (960, 2.0), (1080, 5.0), (1200, None)]
    assert oracle.bucket_series(pts, 120, "sum", 1000, 1400)[0] == (960, 4.0)
    assert oracle.bucket_series(pts, 120, "max", 1000, 1400)[0] == (960, 3.0)
    assert oracle.bucket_series(pts, 120, "min", 1000, 1400)[0] == (960, 1.0)


def test_sum_series_skips_none_and_keeps_all_none():
    a = [(0, 1.0), (60, None), (120, None)]
    b = [(0, 2.0), (60, 5.0), (120, None)]
    assert oracle.sum_series([a, b]) == [(0, 3.0), (60, 5.0), (120, None)]


def test_average_series_divides_by_present_values():
    a = [(0, 1.0), (60, 3.0), (120, None)]
    b = [(0, 5.0), (60, None), (120, None)]
    assert oracle.average_series([a, b]) == [(0, 3.0), (60, 3.0), (120, None)]


def test_derivative_and_scale():
    pts = [(0, 1.0), (60, 4.0), (120, None), (180, 6.0), (240, 7.0)]
    assert oracle.derivative(pts) == [(0, None), (60, 3.0), (120, None), (180, None),
                                      (240, 1.0)]
    assert oracle.scale([(0, None), (60, 1.5)], 2) == [(0, None), (60, 3.0)]


def test_consolidate_anchors_buckets_at_request_start():
    # base 60, span 600 s, 2 points max -> 300 s buckets from start=1010;
    # the grid point 960 sits before start and truncates into bucket 1010
    pts = [(960, 1.0), (1020, 3.0), (1080, None), (1320, 10.0), (1380, 20.0)]
    assert oracle.consolidate(pts, 1010, 1610, 60, 2) == [(1010, 2.0), (1310, 15.0)]
    # few enough base steps: unchanged
    assert oracle.consolidate(pts, 1010, 1610, 60, 10) == pts


def test_glob_matcher_levels_classes_and_braces():
    assert oracle.expand_braces("a{b,c}d") == ["abd", "acd"]
    m = oracle.level_matcher("host0[0-4]?")
    assert m("host011") and not m("host051") and not m("host01")
    assert oracle.level_matcher("{cpu,net}")("net")
    assert not oracle.level_matcher("[!a]*")("abc")
    idx = oracle.NameIndex(["a.x.1", "a.y.2", "b.x.1"])
    assert idx.match("*") == {"a.", "b."}
    assert idx.match("a.*") == {"a.x.", "a.y."}
    assert idx.match("{a,b}.x.*") == {"a.x.1", "b.x.1"}
    assert idx.match("a.[xz].1") == {"a.x.1"}
    assert idx.match("c.*") == set()


# -- each check rejects a deliberately wrong response -------------------------

WANT = {"m": [(960, 2.0), (1080, 5.0), (1200, None)]}


def render_body(points):
    return [{"target": "m", "datapoints": [[v, t] for t, v in points]}]


def test_check_render_accepts_the_right_answer():
    assert oracle.check_render(render_body(WANT["m"]), WANT) == []


def test_check_render_rejects_a_shifted_bucket():
    shifted = [(t + 60, v) for t, v in WANT["m"]]
    assert oracle.check_render(render_body(shifted), WANT)


def test_check_render_rejects_a_dropped_null():
    assert oracle.check_render(render_body(WANT["m"][:2]), WANT)
    assert oracle.check_render(render_body([(960, 2.0), (1080, 5.0), (1200, 0.0)]), WANT)


def test_check_render_rejects_an_extra_series_and_a_wrong_value():
    body = render_body(WANT["m"]) + [{"target": "extra", "datapoints": []}]
    assert oracle.check_render(body, WANT)
    assert oracle.check_render(render_body([(960, 2.5), (1080, 5.0), (1200, None)]), WANT)


def test_check_metric_data_rejects_lost_point_window_and_names():
    want = {"a": (960, 1320, 120, [1.0, None, 3.0])}
    good = {"a": {"start": 960, "end": 1320, "step": 120, "points": [1.0, None, 3.0]}}
    assert oracle.check_metric_data(good, want) == []
    lost = {"a": dict(good["a"], points=[1.0, None, None])}
    assert oracle.check_metric_data(lost, want)
    moved = {"a": dict(good["a"], start=1080)}
    assert oracle.check_metric_data(moved, want)
    assert oracle.check_metric_data(dict(good, b=good["a"]), want)


def test_check_names_rejects_extra_and_missing():
    assert oracle.check_names("q", {"a", "b"}, {"a", "b"}) == []
    assert oracle.check_names("q", {"a", "b", "c"}, {"a", "b"})
    assert oracle.check_names("q", {"a"}, {"a", "b"})


# -- the generators -----------------------------------------------------------

def test_lake_points_are_the_resubmitted_values():
    lake = Lake(7)
    for s in (0, 50, 191):
        pts = lake.points(s)
        assert pts and all(-10 <= v <= 40.5 for v in pts.values())
        assert len(pts) == sum(1 for i in range(2400) if lake.present(s, i))


def test_fixed_gap_is_a_null_run_on_every_seed():
    s, lo, hi = FIXED_GAP
    assert name(s) == "dash.avg.h00.cpu"
    for seed in (1, 2, 99):
        lake = Lake(seed)
        start = lake.t0 + lo * 60
        grid = lake.grid(s, start, lake.t0 + hi * 60)
        assert grid and all(v is None for _, v in grid)
        assert fn_step(s) == ("avg", 120)


def test_a_round_has_the_fixed_mix():
    kinds = [r.kind for r in plan_round(Lake(3), 0)]
    assert len(kinds) == 14 and kinds.count("metricdata") == 3
    assert kinds[-2:] == ["modify", "modify"]
    assert sum("averageSeries" in r.path for r in plan_round(Lake(3), 5)) == 1


def test_burst_make_up():
    lines, points, new = Bursts(4).burst(3)
    assert len(lines) == UPDATES + NEW + BANNED + MALFORMED
    assert len(points) == UPDATES + NEW and len(new) == NEW
    assert len({ln.split()[0] for ln in lines}) == len(lines)


def test_tree_names_are_seeded():
    a, b = Names(1), Names(1)
    assert a.leaves == b.leaves and len(a.leaves) > 60_000
    assert Names(2).leaves != a.leaves
