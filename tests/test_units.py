"""DistanceUnit parity: every distance surface accepts ``unit=`` and
converts at plan time (GT/enumeration/DistanceUnit.java:26-58,
GT/core/UnitConverter.java:46-80, honored as in NearOperation.java:96-155:
radius converted in, output distance converted back out)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opengxt_spark import joins, transforms, transforms_buffer, units

#: (unit, meters per unit) — the reference enum's international values.
UNIT_TABLE = [
    ("Default", 1.0),
    ("Meters", 1.0),
    ("Kilometers", 1000.0),
    ("Inches", 0.0254),
    ("Feet", 0.3048),
    ("Yards", 0.9144),
    ("Miles", 1609.344),
    ("NauticalMiles", 1852.0),
]


def test_unit_factor_table():
    for unit, f in UNIT_TABLE:
        assert units.factor(unit) == f
        assert units.to_world(2.0, unit) == 2.0 * f
    assert units.factor(None) == 1.0
    # convertDistance between named units
    assert units.convert(1.0, "Kilometers", "Meters") == 1000.0
    assert units.convert(5280.0, "Feet", "Miles") == pytest.approx(1.0)
    assert units.convert(1.0, "Miles", "Yards") == pytest.approx(1760.0)
    with pytest.raises(ValueError):
        units.factor("Furlongs")


def _pts(spark, n, seed_mult, prefix="pid"):
    return spark.range(n).selectExpr(
        f"id AS {prefix}",
        f"CAST((id * {seed_mult}) % 100000 AS DOUBLE) / 1000.0 AS x",
        f"CAST((id * {seed_mult + 12}) % 100000 AS DOUBLE) / 1000.0 AS y",
    )


def test_distance_band_join_unit(spark):
    l = _pts(spark, 300, 37)
    r = _pts(spark, 200, 53)
    # radius 8 m given in feet; compare to the meter query at the SAME
    # converted double (equal by construction — one Python multiply).
    r_ft = 8.0 / 0.3048
    m = joins.distance_band_join(l, r, radius=r_ft * 0.3048).collect()
    ft = joins.distance_band_join(l, r, radius=r_ft, unit="Feet").collect()
    assert len(m) == len(ft) > 0
    m_pairs = {(t["pid_l"], t["pid_r"]): t["dist"] for t in m}
    ft_pairs = {(t["pid_l"], t["pid_r"]): t["dist"] for t in ft}
    assert m_pairs.keys() == ft_pairs.keys()
    for k, d_m in m_pairs.items():
        assert ft_pairs[k] == pytest.approx(d_m / 0.3048, abs=1e-5)


def test_neighbor_count_join_unit(spark):
    l = _pts(spark, 300, 37)
    r = _pts(spark, 200, 53)
    m = joins.neighbor_count_join(l, r, radius=12.0).collect()
    km = joins.neighbor_count_join(l, r, radius=0.012, unit="Kilometers").collect()
    assert sorted(map(tuple, m)) == sorted(map(tuple, km))
    assert len(m) > 0


def test_nearest_and_knn_join_unit(spark):
    l = _pts(spark, 300, 37)
    r = _pts(spark, 200, 53)
    m = joins.nearest_join(l, r, radius=25.0).collect()
    ft = joins.nearest_join(l, r, radius=25.0 / 0.3048, unit="Feet").collect()
    assert {(t["pid_l"], t["pid_r"]) for t in m} == {
        (t["pid_l"], t["pid_r"]) for t in ft
    }
    d_m = {t["pid_l"]: t["dist"] for t in m}
    for t in ft:
        assert t["dist"] == pytest.approx(d_m[t["pid_l"]] / 0.3048, abs=1e-5)

    km = joins.knn_join(l, r, k=3, radius=25.0, exclude_self=False).collect()
    kft = joins.knn_join(
        l, r, k=3, radius=25.0 / 0.3048, unit="Feet", exclude_self=False
    ).collect()
    assert {(t["pid_l"], t["pid_r"], t["rank"]) for t in km} == {
        (t["pid_l"], t["pid_r"], t["rank"]) for t in kft
    }
    d_m = {(t["pid_l"], t["pid_r"]): t["dist"] for t in km}
    for t in kft:
        assert t["dist"] == pytest.approx(
            d_m[(t["pid_l"], t["pid_r"])] / 0.3048, abs=1e-5
        )


def test_knn_join_unit_packed_mm(spark):
    """The packed-bigint mm-exact path honors unit= too (radius converts
    before the pack-budget probe; dist reported in the unit)."""
    l = _pts(spark, 200, 37)
    r = _pts(spark, 150, 53)
    m = joins.knn_join(
        l, r, k=2, radius=30.0, exclude_self=False, mm_exact=True
    ).collect()
    yd = joins.knn_join(
        l, r, k=2, radius=30.0 / 0.9144, unit="Yards",
        exclude_self=False, mm_exact=True,
    ).collect()
    assert {(t["pid_l"], t["pid_r"], t["rank"]) for t in m} == {
        (t["pid_l"], t["pid_r"], t["rank"]) for t in yd
    }
    d_m = {(t["pid_l"], t["pid_r"]): t["dist"] for t in m}
    for t in yd:
        assert t["dist"] == pytest.approx(
            d_m[(t["pid_l"], t["pid_r"])] / 0.9144, abs=1e-5
        )


def test_buffer_unit(spark):
    pts = _pts(spark, 50, 37).withColumn("w", F.col("pid") % 10).withColumn(
        "val", (F.col("pid") % 100).cast("double")
    )
    m = transforms.buffer_points(pts, "w % 10 + 2").collect()
    km = transforms.buffer_points(pts, "(w % 10 + 2) / 1000.0",
                                  unit="Kilometers").collect()
    bm = {t["pid"]: t["buf_dist"] for t in m}
    for t in km:
        assert t["buf_dist"] == pytest.approx(bm[t["pid"]], abs=1e-9)

    vm = transforms_buffer.variable_buffers(pts, "val / 100.0").collect()
    vf = transforms_buffer.variable_buffers(
        pts, "val / 100.0 / 0.3048", unit="Feet"
    ).collect()
    bv = {t["pid"]: t["buf_dist"] for t in vm}
    for t in vf:
        assert t["buf_dist"] == pytest.approx(bv[t["pid"]], abs=1e-6)

    segs = spark.range(20).selectExpr(
        "id AS lid", "CAST(id AS DOUBLE) AS x1", "CAST(id * 2 AS DOUBLE) AS y1",
        "CAST(id + 5 AS DOUBLE) AS x2", "CAST(id * 2 + 3 AS DOUBLE) AS y2",
    )
    sm = transforms_buffer.single_sided_buffers(segs, 3.0).collect()
    sf_ = transforms_buffer.single_sided_buffers(
        segs, 3.0 / 0.3048, unit="Feet"
    ).collect()
    assert len(sm) == len(sf_) > 0
    a = sorted((t["lid"], round(t["qx3"], 5), round(t["buf_area"], 5))
               for t in sm)
    b = sorted((t["lid"], round(t["qx3"], 5), round(t["buf_area"], 5))
               for t in sf_)
    assert a == b


def _lonlat_layers(spark):
    l = spark.range(80).selectExpr(
        "id AS pid",
        "CAST((id * 37) % 80 - 40 AS DOUBLE) / 2.0 AS lon",
        "CAST((id * 61) % 60 - 30 AS DOUBLE) / 2.0 AS lat",
    )
    r = spark.range(60).selectExpr(
        "id AS pid",
        "CAST((id * 53) % 80 - 40 AS DOUBLE) / 2.0 AS lon",
        "CAST((id * 29) % 60 - 30 AS DOUBLE) / 2.0 AS lat",
    )
    return l, r


def test_haversine_joins_unit(spark):
    """Geodesic surfaces accept unit= too: a radius given in Miles equals
    the same radius pre-converted to km."""
    from opengxt_spark import geo

    l, r = _lonlat_layers(spark)
    r_mi = 200.0
    km = geo.haversine_nearest_join(l, r, r_mi * 1609.344 / 1000.0).collect()
    mi = geo.haversine_nearest_join(l, r, r_mi, unit="Miles").collect()
    assert sorted(map(tuple, km)) == sorted(map(tuple, mi))
    assert len(km) > 0
    km2 = geo.haversine_neighbor_count(l, r, r_mi * 1609.344 / 1000.0).collect()
    mi2 = geo.haversine_neighbor_count(l, r, r_mi, unit="Miles").collect()
    assert sorted(map(tuple, km2)) == sorted(map(tuple, mi2))


def test_haversine_default_unit_is_no_conversion(spark):
    """unit="Default" leaves the radius as given (km), like unit=None;
    it is not read as meters, which would shrink the radius 1000x."""
    from opengxt_spark import geo

    l, r = _lonlat_layers(spark)
    for op in (geo.haversine_nearest_join, geo.haversine_neighbor_count):
        none = sorted(map(tuple, op(l, r, 300.0).collect()))
        default = sorted(map(tuple, op(l, r, 300.0, unit="Default").collect()))
        assert default == none and none
