"""Invariant tests for overlay/line operators and classifiers.

Strategy (SURVEY.md §5.2): property checks against brute-force or closed-form
ground truth on the sf0.001 world — the DuckDB oracle gate covers value
parity; these assert the *semantics* independently of the shared SQL.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from opengxt_spark import classify, overlay, world

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def layers(spark):
    return {
        "rects_a": world.rects_customer(spark, SF),
        "rects_b": world.load_layer(spark, SF, "rects_orders"),
        "lines": world.load_layer(spark, SF, "lines_orders"),
        "lines_b": world.load_layer(spark, SF, "lines_part"),
        "points": world.points_part(spark, SF),
        "events": world.points_events(spark, SF),
    }


def test_intersect_rects_matches_bruteforce(spark, layers):
    got = {
        (r["rid_a"], r["rid_b"]): r["area"]
        for r in overlay.intersect_rects(layers["rects_a"], layers["rects_b"])
        .collect()
    }
    a = layers["rects_a"].collect()
    b = layers["rects_b"].collect()
    expected = {}
    for ra in a:
        for rb in b:
            ixmin = max(ra["cx"] - ra["hw"], rb["cx"] - rb["hw"])
            ixmax = min(ra["cx"] + ra["hw"], rb["cx"] + rb["hw"])
            iymin = max(ra["cy"] - ra["hh"], rb["cy"] - rb["hh"])
            iymax = min(ra["cy"] + ra["hh"], rb["cy"] + rb["hh"])
            if ixmin <= ixmax and iymin <= iymax:
                expected[(ra["rid"], rb["rid"])] = round(
                    (ixmax - ixmin) * (iymax - iymin), 6
                )
    assert set(got) == set(expected)
    for k in got:
        assert got[k] == pytest.approx(expected[k], abs=1e-6)


def test_sum_line_length_bounded_by_total(spark, layers):
    out = overlay.sum_line_length(layers["lines"], layers["rects_a"]).collect()
    assert len(out) > 0
    total = (
        layers["lines"]
        .select(
            F.sum(
                F.expr("SQRT((x2-x1)*(x2-x1) + (y2-y1)*(y2-y1))")
            ).alias("s")
        )
        .collect()[0]["s"]
    )
    for r in out:
        assert 0.0 < r["sum_len"] <= total


def test_line_intersections_points_lie_on_both(spark, layers):
    rows = overlay.line_intersections(
        layers["lines"], layers["lines_b"]
    ).collect()
    assert len(rows) > 0
    la = {r["lid"]: r for r in layers["lines"].collect()}
    lb = {r["lid"]: r for r in layers["lines_b"].collect()}

    def on_segment(seg, px, py, tol=1e-5):
        x1, y1, x2, y2 = seg["x1"], seg["y1"], seg["x2"], seg["y2"]
        dx, dy = x2 - x1, y2 - y1
        l2 = dx * dx + dy * dy
        t = ((px - x1) * dx + (py - y1) * dy) / l2
        qx, qy = x1 + t * dx, y1 + t * dy
        return -1e-9 <= t <= 1 + 1e-9 and math.hypot(px - qx, py - qy) < tol

    for r in rows[:200]:
        assert on_segment(la[r["lid_a"]], r["px"], r["py"])
        assert on_segment(lb[r["lid_b"]], r["px"], r["py"])


def test_snap_distance_is_true_minimum(spark, layers):
    rows = overlay.snap_points_to_lines(
        layers["points"], layers["lines"], tolerance=30.0
    ).collect()
    assert len(rows) > 0
    pts = {r["pid"]: r for r in layers["points"].collect()}
    segs = layers["lines"].collect()

    def seg_dist(p, s):
        dx, dy = s["x2"] - s["x1"], s["y2"] - s["y1"]
        l2 = dx * dx + dy * dy
        t = max(0.0, min(1.0, ((p["x"] - s["x1"]) * dx + (p["y"] - s["y1"]) * dy) / l2))
        return math.hypot(p["x"] - (s["x1"] + t * dx), p["y"] - (s["y1"] + t * dy))

    for r in rows[:50]:
        p = pts[r["pid"]]
        brute = min(seg_dist(p, s) for s in segs)
        assert r["snap_dist"] == pytest.approx(brute, abs=1e-5)
        assert r["snap_dist"] <= 30.0 + 1e-9


def test_points_along_lines_spacing(spark, layers):
    rows = overlay.points_along_lines(layers["lines"], spacing=40.0).collect()
    by_lid = {}
    for r in rows:
        by_lid.setdefault(r["lid"], []).append(r)
    lines = {r["lid"]: r for r in layers["lines"].collect()}
    for lid, sts in list(by_lid.items())[:100]:
        seg = lines[lid]
        ln = math.hypot(seg["x2"] - seg["x1"], seg["y2"] - seg["y1"])
        assert len(sts) == int(ln // 40.0) + 1
        sts.sort(key=lambda r: r["k"])
        assert sts[0]["sx"] == pytest.approx(seg["x1"], abs=1e-5)
        if len(sts) > 1:
            d = math.hypot(sts[1]["sx"] - sts[0]["sx"], sts[1]["sy"] - sts[0]["sy"])
            assert d == pytest.approx(40.0, abs=1e-5)


def test_classify_quantile_balanced(spark, layers):
    out = classify.classify_quantile(layers["events"], 7)
    counts = [r["c"] for r in out.groupBy("cls").agg(
        F.count(F.lit(1)).alias("c")).collect()]
    assert len(counts) == 7
    assert max(counts) - min(counts) <= 1


def test_classify_equal_interval_bounds(spark, layers):
    rows = classify.classify_equal_interval(layers["events"], 8).collect()
    vs = [r["v"] for r in rows]
    vmin, vmax = min(vs), max(vs)
    width = (vmax - vmin) / 8.0
    for r in rows[:500]:
        expect = min(int((r["v"] - vmin) / width), 7)
        assert r["cls"] == expect
    assert {r["cls"] for r in rows} <= set(range(8))


def test_kmeans_deterministic_and_partitioned(spark, layers):
    a = classify.kmeans_xy(layers["events"]).collect()
    b = classify.kmeans_xy(layers["events"]).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert sum(r["n"] for r in a) == layers["events"].count()
    assert len(a) == 4


def test_jenks_classes_are_contiguous_and_better_than_equal(spark, layers):
    out = classify.classify_jenks(layers["events"], 5).collect()
    assert len(out) == 5
    # contiguous, non-overlapping value ranges covering all rows
    out.sort(key=lambda r: r["cls"])
    for a, b in zip(out, out[1:]):
        assert a["vmax"] < b["vmin"]
    assert sum(r["n"] for r in out) == layers["events"].count()
    # DP optimality sanity: Jenks SSE <= equal-interval SSE on the same data
    rows = [int(r["w"]) for r in layers["events"].select("w").collect()]

    def sse_for(breaks):
        groups = {}
        for v in rows:
            c = sum(1 for b in breaks if v > b)
            groups.setdefault(c, []).append(v)
        tot = 0.0
        for vs in groups.values():
            m = sum(vs) / len(vs)
            tot += sum((v - m) ** 2 for v in vs)
        return tot

    jenks_breaks = [r["vmax"] for r in out[:-1]]
    vmin, vmax = min(rows), max(rows)
    eq_breaks = [vmin + (vmax - vmin) * (i + 1) / 5.0 for i in range(4)]
    assert sse_for(jenks_breaks) <= sse_for(eq_breaks) + 1e-6


def test_jenks_rebins_on_cluster_when_histogram_exceeds_bins(
    spark, monkeypatch
):
    bins = 16
    vals = [(i * 7919) % 10007 + (i % 3) * 20011 for i in range(1500)]
    pts = spark.createDataFrame([(v,) for v in vals], "w long")
    hist: dict[int, int] = {}
    for v in vals:
        hist[v] = hist.get(v, 0) + 1
    assert len(hist) > bins + 1
    want = classify.jenks_breaks(
        classify.quantize_hist(sorted(hist.items()), bins), 5
    )

    received = []
    frame_cls = type(pts)  # the concrete (classic or Connect) DataFrame
    collect = frame_cls.collect

    def counting_collect(self):
        rows = collect(self)
        received.append(len(rows))
        return rows

    with monkeypatch.context() as m:
        m.setattr(classify, "JENKS_MAX_BINS", bins)
        m.setattr(frame_cls, "collect", counting_collect)
        out = classify.classify_jenks(pts, 5)
    assert received and max(received) <= bins + 1
    out = sorted(out.collect(), key=lambda r: r["cls"])
    assert [r["vmax"] for r in out[:-1]] == want
    assert sum(r["n"] for r in out) == len(vals)
