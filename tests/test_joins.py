"""Brute-force property tests for the spatial joins (independent oracle).

These recompute expected results in pure Python/pandas from first principles
(tests/worldref.py) — independent of the SQL fragments shared between the
Spark queries and the DuckDB oracle — at sf0.001.
"""

from __future__ import annotations

import json
import logging
import math
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from opengxt_spark import joins, planner, world
from tests import worldref as W


@pytest.fixture(scope="module")
def raw(sf_dir):
    con = duckdb.connect()
    events = con.execute(
        f"SELECT event_id, value FROM '{sf_dir}/events.parquet'"
    ).fetchall()
    customers = con.execute(
        f"SELECT c_custkey FROM '{sf_dir}/customer.parquet'"
    ).fetchall()
    suppliers = con.execute(
        f"SELECT s_suppkey FROM '{sf_dir}/supplier.parquet'"
    ).fetchall()
    parts = con.execute(
        f"SELECT p_partkey FROM '{sf_dir}/part.parquet'"
    ).fetchall()
    return events, customers, suppliers, parts


def test_pip_count_rect_bruteforce(spark, sf_dir, raw):
    events, customers, _, _ = raw
    pts = [(eid, W.px(eid), W.py(eid), W.int_weight(v)) for eid, v in events]
    expected = {}
    for (ck,) in customers:
        cx, cy, hw, hh = W.rect_params(ck)
        inside = [(w,) for _, x, y, w in pts if W.rect_contains(x, y, cx, cy, hw, hh)]
        if inside:
            expected[ck] = (len(inside), sum(w for (w,) in inside))
    out = joins.pip_count_join(
        world.points_events(spark, sf_dir), world.rects_customer(spark, sf_dir)
    ).collect()
    got = {r.rid: (r.cnt, r.sum_w) for r in out}
    assert got == expected


def test_pip_count_hex_bruteforce(spark, sf_dir, raw):
    events, _, suppliers, _ = raw
    pts = [(W.px(eid), W.py(eid)) for eid, _ in events]
    expected = {}
    for (sk,) in suppliers:
        cx, cy, r = W.hex_params(sk)
        n = sum(1 for x, y in pts if W.hex_contains(x, y, cx, cy, r))
        if n:
            expected[sk] = n
    out = joins.pip_hex_count_join(
        world.points_events(spark, sf_dir), world.hex_supplier(spark, sf_dir)
    ).collect()
    assert {r.hid: r.cnt for r in out} == expected


def test_knn_join_bruteforce(spark, sf_dir, raw):
    events, _, _, parts = raw
    epts = [(eid, W.px(eid), W.py(eid)) for eid, _ in events]
    ppts = [(pk, *W.part_point(pk)) for (pk,) in parts]
    radius, k = 50.0, 3
    expected = set()
    for eid, x, y in epts:
        cands = []
        for pk, px_, py_ in ppts:
            d2 = (x - px_) ** 2 + (y - py_) ** 2
            if d2 <= radius * radius:
                cands.append((d2, pk))
        cands.sort()
        for rank, (d2, pk) in enumerate(cands[:k], start=1):
            expected.add((eid, pk, rank))
    out = joins.knn_join(
        world.points_events(spark, sf_dir),
        world.points_part(spark, sf_dir),
        k=k,
        radius=radius,
        exclude_self=False,
    ).collect()
    assert {(r.pid_l, r.pid_r, r.rank) for r in out} == expected


def test_knn_join_packed_equals_struct(spark, sf_dir):
    """mm_exact=True (packed bigint top-k) must reproduce the struct path
    row-for-row on mm-grid layers: same neighbors, same ranks, and dists
    equal to 1e-6 (the packed dist derives from the exact integer-mm
    distance, the struct dist from the double — identical after ROUND 6
    except on sub-mm rounding noise, which the grid rules out)."""
    l = world.points_events(spark, sf_dir)
    r = world.points_part(spark, sf_dir)
    a = joins.knn_join(l, r, k=4, radius=50.0, exclude_self=False,
                       mm_exact=True).collect()
    b = joins.knn_join(l, r, k=4, radius=50.0, exclude_self=False).collect()
    ka = {(x.pid_l, x.rank): (x.pid_r, x.dist) for x in a}
    kb = {(x.pid_l, x.rank): (x.pid_r, x.dist) for x in b}
    assert set(ka) == set(kb) and len(ka) == len(a)
    for key, (pr, dist) in ka.items():
        pr2, dist2 = kb[key]
        assert pr == pr2
        assert abs(dist - dist2) < 1e-9


def test_knn_join_packed_overflow_falls_back(spark, sf_dir):
    """Ids too large for the 63-bit pack budget must take the struct path
    (not corrupt the packing): results still match the small-id run."""
    from pyspark.sql import functions as F

    l = world.points_events(spark, sf_dir)
    r = world.points_part(spark, sf_dir)
    big = 1 << 50  # nextpow2(max_id) * d2m_max blows the 2^63 budget
    r_big = r.withColumn("pid", F.col("pid") + F.lit(big).cast("long"))
    out = joins.knn_join(l, r_big, k=3, radius=50.0, exclude_self=False,
                         mm_exact=True).collect()
    ref = joins.knn_join(l, r, k=3, radius=50.0, exclude_self=False).collect()
    assert {(x.pid_l, x.pid_r - big, x.rank) for x in out} == {
        (x.pid_l, x.pid_r, x.rank) for x in ref
    }


def test_distance_band_symmetric_counts(spark, sf_dir):
    """Total pairs within radius must equal its transpose (join correctness)."""
    l = world.points_events(spark, sf_dir)
    r = world.points_part(spark, sf_dir)
    n1 = joins.distance_band_join(l, r, 20.0).count()
    n2 = joins.distance_band_join(r, l, 20.0).count()
    assert n1 == n2 and n1 > 0


def test_nearest_join_dist_is_min(spark, sf_dir):
    pairs = joins.distance_band_join(
        world.points_events(spark, sf_dir),
        world.points_part(spark, sf_dir),
        25.0,
    ).collect()
    best = {}
    for row in pairs:
        cur = best.get(row.pid_l)
        key = (row.d2, row.pid_r)
        if cur is None or key < cur:
            best[row.pid_l] = key
    out = joins.nearest_join(
        world.points_events(spark, sf_dir),
        world.points_part(spark, sf_dir),
        radius=25.0,
    ).collect()
    got = {r.pid_l: r.pid_r for r in out}
    assert got == {pid: pk for pid, (_, pk) in best.items()}
    for r in out:
        assert math.isclose(r.dist, math.sqrt(best[r.pid_l][0]), abs_tol=1e-6)


def test_band_stats_tiled_equals_broadcast(spark, sf_dir):
    """The ghost-halo tiled strategy must produce bit-identical per-point
    (cnt, sum_v, sum_sq) to the broadcast strategy — both run the fused
    interior/boundary pass over integer contributions, so any divergence
    is a halo-truncation or per-tile-aggregate bug."""
    ev = world.points_events(spark, sf_dir).selectExpr(
        "pid", "x", "y", "CAST(w % 97 AS BIGINT) AS v"
    )
    kw = dict(value_col="v", left_keep={"v": "v"}, with_sq=True)
    bc = joins.band_stats_join(ev, ev, 12.0, strategy="broadcast", **kw)
    td = joins.band_stats_join(ev, ev, 12.0, strategy="tiled", **kw)
    got_bc = {r.pid_l: (r.cnt, r.sum_v, r.sum_sq) for r in bc.collect()}
    got_td = {r.pid_l: (r.cnt, r.sum_v, r.sum_sq) for r in td.collect()}
    assert got_bc == got_td
    assert len(got_bc) > 0


# ---------------------------------------------------------------------------
# Ring schedule vs single-phase path, and the cost gate between them
# ---------------------------------------------------------------------------


def _points(spark, n: int, seed: int, blob: float = 0.0, size: float = 40.0):
    """``n`` seeded points on the integer-mm grid of the 1000 x 1000 world.
    ``blob`` > 0 puts that share of them in ``size``-wide clusters — four
    of them, or a single one when ``size`` < 20; the rest stay uniform, so
    the bbox still spans the world."""
    h = lambda salt: F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(salt)),
                            F.lit(1 << 30))
    ux = (h(1) % 1000000) / 1000.0
    uy = (h(2) % 1000000) / 1000.0
    span = int(size * 1000)
    c = (F.col("id") % 4 if size >= 20 else F.lit(0)).cast("int")
    cx = F.element_at(F.array(*(F.lit(v) for v in (250, 750, 250, 600))), c + 1)
    cy = F.element_at(F.array(*(F.lit(v) for v in (250, 250, 750, 600))), c + 1)
    bx = cx + (h(3) % span) / 1000.0
    by = cy + (h(4) % span) / 1000.0
    in_blob = (h(5) % 1000) < int(blob * 1000)
    return spark.range(n).select(
        F.col("id").alias("pid"),
        F.when(in_blob, bx).otherwise(ux).alias("x"),
        F.when(in_blob, by).otherwise(uy).alias("y"),
    )


def _decisions(caplog) -> list[dict]:
    return [r.decision for r in caplog.records if hasattr(r, "decision")]


def _rows(df, cols) -> list[tuple]:
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.mark.parametrize("blob", [0.0, 0.8], ids=["uniform", "clustered"])
def test_ring_and_single_phase_paths_agree(spark, blob, caplog):
    """Forcing each path through ``first_radius`` gives identical rows for
    knn_join (packed and struct top-k, at k=4 and at k=1) and nearest_join
    (plain, and a Feet-unit keep_all self-join). The layers are dense
    enough that the ring runs a flipped late ring and the cap ring, so
    every part of the schedule is compared, not only ring 1."""
    left = _points(spark, 1000, 11, blob)
    right = _points(spark, 4000, 12, blob)
    radius = 80.0
    ft = 0.3048  # the self-join's radii in feet, the same world radii
    knn_cols = ("pid_l", "pid_r", "dist", "rank")
    near_cols = ("pid_l", "pid_r", "d2", "dist")
    cases = [
        (lambda **kw: joins.knn_join(left, right, k=4, radius=radius,
                                     exclude_self=False, mm_exact=True, **kw),
         knn_cols, "knn_join"),
        (lambda **kw: joins.knn_join(left, right, k=4, radius=radius,
                                     exclude_self=False, **kw),
         knn_cols, "knn_join"),
        (lambda **kw: joins.knn_join(left, right, k=1, radius=radius,
                                     exclude_self=False, mm_exact=True, **kw),
         knn_cols, "knn_join"),
        (lambda **kw: joins.knn_join(left, right, k=1, radius=radius,
                                     exclude_self=False, **kw),
         knn_cols, "knn_join"),
        (lambda **kw: joins.nearest_join(left, right, radius=radius, **kw),
         near_cols, "nearest_join"),
        (lambda first_radius: joins.nearest_join(
            left, left, radius=radius / ft, exclude_self=True, keep_all=True,
            unit="Feet", first_radius=first_radius / ft),
         near_cols, "nearest_join"),
    ]
    try:
        for build, cols, site in cases:
            with caplog.at_level(logging.DEBUG, logger="opengxt_spark.joins"):
                caplog.clear()
                single = build(first_radius=radius)
                ring = build(first_radius=3.0)
            # ring 1's persist plus at least one late ring's
            assert len(joins._SCRATCH) >= 2
            choices = [d for d in _decisions(caplog) if "choice" in d]
            assert [d["choice"] for d in choices] == ["single", "ring"]
            assert all(d["probe"] == "forced" for d in choices)
            # ring 1's measured survivors next to the Poisson prediction
            (surv,) = [d for d in _decisions(caplog) if d.get("ring") == 1]
            assert surv["npend"] > 0 and 0 < surv["predicted_share"] < 1
            assert all(d["site"] == site for d in _decisions(caplog))
            a, b = _rows(single, cols), _rows(ring, cols)
            assert a == b and len(a) > 0
            joins.release_scratch()
    finally:
        joins.release_scratch()


def test_gate_picks_single_phase_for_small_uniform_layers(spark, sf_dir, caplog):
    """The registry's uniform layers estimate far below the gate: knn_join
    builds its single-phase plan — no ring scratch, no eager job."""
    left = world.points_events(spark, sf_dir)
    right = world.points_part(spark, sf_dir)
    joins.release_scratch()
    with caplog.at_level(logging.DEBUG, logger="opengxt_spark.joins"):
        out = joins.knn_join(left, right, k=4, radius=50.0, exclude_self=False)
    assert joins._SCRATCH == []
    (d,) = _decisions(caplog)
    assert d["site"] == "knn_join" and d["choice"] == "single"
    assert d["n_left"] == left.count()
    assert 0 < d["est_pairs"] <= d["threshold"]
    assert d["threshold"] == (
        joins.SINGLE_PHASE_PAIRS_PER_CORE * spark.sparkContext.defaultParallelism
    )
    # the estimate tracks the true single-phase pair volume
    true_pairs = joins.distance_band_join(left, right, 50.0).count()
    assert 0.5 * true_pairs <= d["est_pairs"] <= 2.0 * true_pairs
    assert out.count() > 0


def test_gate_picks_ring_for_clustered_layers(spark, caplog):
    """A dense blob inside a world-wide bbox: the uniform estimate
    n_left * rho * pi r^2 passes the gate, the cell histogram does not —
    so the gate keeps the ring (a single-phase join here would be
    quadratic in the blob)."""
    left = _points(spark, 6000, 21, blob=0.9, size=10.0)
    right = _points(spark, 8000, 22, blob=0.9, size=10.0)
    radius = 20.0
    threshold = (
        joins.SINGLE_PHASE_PAIRS_PER_CORE * spark.sparkContext.defaultParallelism
    )
    uniform = 6000 * joins.point_density(right) * math.pi * radius**2
    assert uniform <= threshold
    cols = ("pid", "x", "y")
    with caplog.at_level(logging.DEBUG, logger="opengxt_spark.joins"):
        r1 = joins._ring_first_radius(
            "knn_join", left, right, radius, None, 8.0, cols, cols
        )
        again = joins._ring_first_radius(
            "knn_join", left, right, radius, None, 8.0, cols, cols
        )
    assert 0 < r1 < radius and again == r1
    first, second = _decisions(caplog)
    assert first["choice"] == "ring" and first["est_pairs"] > threshold
    assert first["n_left"] == 6000
    assert first["probe"] in ("job", "persisted") and second["probe"] == "memory"


def test_source_epoch_sees_same_second_same_size_rewrite(spark, tmp_path,
                                                          monkeypatch):
    """A table regenerated in place within the same second at the same
    byte size must invalidate its cached count."""
    monkeypatch.setenv("OPENGXT_PROBE_CACHE", str(tmp_path / "probes.json"))
    root = tmp_path / "sf"
    table = root / "t"
    table.mkdir(parents=True)
    part = table / "part-0.csv"
    saved = planner._SOURCE_EPOCH[0]
    try:
        part.write_text("1\n2\n3\n")
        sec = int(os.stat(part).st_mtime)
        os.utime(part, ns=(sec * 10**9 + 100, sec * 10**9 + 100))
        planner.set_source_epoch(str(root))
        assert planner.cached_count(spark.read.csv(str(table))) == 3

        part.write_text("11\n22\n")  # same 6 bytes, two rows
        os.utime(part, ns=(sec * 10**9 + 200, sec * 10**9 + 200))
        planner.set_source_epoch(str(root))
        assert planner.cached_count(spark.read.csv(str(table))) == 2
    finally:
        planner._SOURCE_EPOCH[0] = saved


def test_memo_probe_tiers(spark, tmp_path, monkeypatch, caplog):
    """A parquet-backed count probe runs its job once, then hits memory,
    then (memory cleared) the persisted file; createDataFrame frames get
    keys of their own that never reach that file; only the job call adds
    probe seconds."""
    path = tmp_path / "probes.json"
    monkeypatch.setenv("OPENGXT_PROBE_CACHE", str(path))
    spark.range(5).write.parquet(str(tmp_path / "t"))
    saved = planner._SOURCE_EPOCH[0]
    try:
        planner.set_source_epoch(str(tmp_path))
        df = spark.read.parquet(str(tmp_path / "t"))
        tiers, grew = [], []
        with caplog.at_level(logging.DEBUG, logger="opengxt_spark.planner"):
            for clear in (False, False, True):
                if clear:
                    planner._MEMO.clear()
                s0 = planner.probe_seconds()
                assert planner.cached_count(df) == 5
                grew.append(planner.probe_seconds() > s0)
                (d,) = _decisions(caplog)[-1:]
                assert d["site"] == "probe" and d["kind"] == "count"
                assert ("seconds" in d) == (d["tier"] == "job")
                tiers.append(d["tier"])
        assert tiers == ["job", "memory", "persisted"]
        assert grew == [True, False, False]
        stored = json.loads(path.read_text())
        # same schema, other rows: each local frame gets its own count
        for rows in ([(1,), (2,)], [(1,), (2,), (3,)]):
            local = spark.createDataFrame(rows, "memo_probe_a long")
            assert planner.cached_count(local) == len(rows)
        assert json.loads(path.read_text()) == stored
    finally:
        planner._SOURCE_EPOCH[0] = saved
