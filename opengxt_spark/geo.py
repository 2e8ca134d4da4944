"""Geodesic (lat/lon) distance support: haversine joins + geodesic buffers.

The reference switches to geodesic math when a layer's CRS is geographic —
``GeodeticBuilder`` distances in GT/operations/SpatialJoinOperation.java:
97-118 and geodesic buffer rings in GT/transformation/
BufferExpressionFeatureCollection.java:196-241. The engine's synthetic world
is planar by design (SURVEY §7.4); this module adds the geographic
interpretation: an affine lon/lat reading of the (x, y) plane, great-circle
(haversine) distances, and small-circle buffer rings.

**Engine-portable trig.** The haversine needs sin/cos/asin, but JVM
``Math.sin`` and DuckDB's libm are not guaranteed bit-identical — a 1-ulp
divergence anywhere flips the driver's value hash. So sin/cos/asin here are
fixed Horner POLYNOMIALS in shared SQL text (Taylor kernels: sin/cos to
x^15/x^16 — error < 5e-12 over |x| <= pi/2 — and asin to x^7 for the tiny
arguments the final haversine step sees). Both engines then evaluate the
same IEEE mul/add/div sequence and agree bit-for-bit, the same trick the
planar world uses for everything else.

Scale shape: candidate pairs come from a degree-grid cell join — probe
points carry one cell, build points explode across the lat band +/- r and a
per-point lon span r / cos(|lat| + dlat) (wider near the poles, as it must
be) — then the exact haversine refines. Linear in qualifying pairs, never
all-pairs; the same architecture as every planar join here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import planner, world
from .world import dlit

R_KM = 6371.0088  # IUGG mean Earth radius
DEG_KM = 111.19492664455873  # pi * R_KM / 180: km per degree of latitude
#: lon/lat reading of the planar world — seam- and pole-free by construction.
LON_SQL = f"(x * {dlit(0.34)} - {dlit(170.0)})"  # [0,1000) -> [-170, 170)
LAT_SQL = f"(y * {dlit(0.16)} - {dlit(80.0)})"   # [0,1000) -> [-80, 80)
DEG2RAD = dlit(0.017453292519943295)


def _sin_poly(x: str) -> str:
    """Taylor sin through x^15 (Horner): |err| < 5e-12 for |x| <= pi/2."""
    x2 = f"(({x}) * ({x}))"
    inner = f"(1.0 - {x2} / 210.0)"
    for d in (156.0, 110.0, 72.0, 42.0, 20.0, 6.0):
        inner = f"(1.0 - {x2} / {dlit(d)} * {inner})"
    return f"(({x}) * {inner})"


def _cos_poly(x: str) -> str:
    """Taylor cos through x^16 (Horner): |err| < 5e-13 for |x| <= pi/2."""
    x2 = f"(({x}) * ({x}))"
    inner = f"(1.0 - {x2} / 240.0)"
    for d in (182.0, 132.0, 90.0, 56.0, 30.0, 12.0, 2.0):
        inner = f"(1.0 - {x2} / {dlit(d)} * {inner})"
    return inner


def _asin_poly(x: str) -> str:
    """asin series to x^7 — the haversine's final asin argument is
    sin(d / 2R) <= 0.08 for d <= 1000 km, where the x^9 term is < 1e-10."""
    x2 = f"(({x}) * ({x}))"
    return (
        f"(({x}) * (1.0 + {x2} * ({dlit(1.0 / 6.0)} + {x2} * "
        f"({dlit(3.0 / 40.0)} + {x2} * {dlit(15.0 / 336.0)}))))"
    )


def haversine_km_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Great-circle distance in km — one shared SQL text for both engines.
    Inputs in degrees. NOTE: inlining this on a hot path breaches janino's
    64 KB method limit (the asin(sqrt(h)) substitution repeats the ~12 KB
    ``h`` three times); the join paths below stage it through named columns
    (``_HAV_STAGES``) instead — same op DAG, codegen-sized expressions."""
    dphi = f"((({lat2}) - ({lat1})) * {DEG2RAD} / 2.0)"
    dlmb = f"((({lon2}) - ({lon1})) * {DEG2RAD} / 2.0)"
    phi1 = f"(({lat1}) * {DEG2RAD})"
    phi2 = f"(({lat2}) * {DEG2RAD})"
    h = (
        f"({_sin_poly(dphi)} * {_sin_poly(dphi)} + "
        f"{_cos_poly(phi1)} * {_cos_poly(phi2)} * "
        f"{_sin_poly(dlmb)} * {_sin_poly(dlmb)})"
    )
    return f"(2.0 * {dlit(R_KM)} * {_asin_poly(f'SQRT({h})')})"


def _hav_h_threshold(radius_km: float) -> str:
    """The haversine filter runs on the PRE-asin quantity h (monotone in
    distance): h <= sin^2(r / 2R). The threshold is one Python-computed
    double literal shared by both engines, so no trig runs at compare time
    and the decision is trivially bit-identical."""
    import math

    s = math.sin(radius_km / (2.0 * R_KM))
    return dlit(s * s)


#: Staged haversine columns over a joined pair frame carrying
#: (llat, llon, rlat, rlon). Each stage's expressions reference only prior
#: short column names, keeping every generated method far under janino's
#: 64 KB limit; stage order matters.
_HAV_STAGES: tuple[dict[str, str], ...] = (
    {
        "dphi2": f"((rlat - llat) * {DEG2RAD} / 2.0)",
        "dlmb2": f"((rlon - llon) * {DEG2RAD} / 2.0)",
        "phi1": f"(llat * {DEG2RAD})",
        "phi2": f"(rlat * {DEG2RAD})",
    },
    {
        "sdp": _sin_poly("dphi2"),
        "sdl": _sin_poly("dlmb2"),
        "cp1": _cos_poly("phi1"),
        "cp2": _cos_poly("phi2"),
    },
    {"havh": "(sdp * sdp + cp1 * cp2 * sdl * sdl)"},
)

_HAV_FROM_H = f"(2.0 * {dlit(R_KM)} * {_asin_poly('SQRT(havh)')})"


def lonlat_layer_sql(layer_sql: str) -> str:
    """Wrap a planar point-layer SQL with its geographic reading."""
    return (
        f"SELECT pid, {LON_SQL} AS lon, {LAT_SQL} AS lat "
        f"FROM ({layer_sql})"
    )


def _lon_span_deg(r_km: float) -> str:
    """Per-point longitude prefilter span (degrees), PROVABLY conservative:
    d >= (2R/pi) * cos(phi_max) * |dlon_rad|  =>  |dlon_deg| <= r * (90/R) /
    cos(phi_max), with phi_max = |lat| + lat-span and a 2% slack absorbing
    the polynomial-cos error."""
    dlat = r_km / DEG_KM
    phi_max = f"LEAST(ABS(lat) + {dlit(dlat)}, {dlit(89.0)}) * {DEG2RAD}"
    return (
        f"({dlit(r_km * 90.0 / R_KM * 1.02)} / "
        f"GREATEST({_cos_poly(f'({phi_max})')}, {dlit(1e-6)}))"
    )


# Degree-grid cell sizes for the prefilter join.
CLAT_DEG = 5.0
CLON_DEG = 5.0


def _hav_pairs(
    left: DataFrame, right: DataFrame, radius_km: float
) -> DataFrame:
    """(pid_l, pid_r, hav_km) for all cross-layer pairs within radius_km.

    Probe (left) carries one degree cell; build (right) explodes over the
    lat band +/- dlat and its per-point lon span, so every qualifying pair
    meets in exactly the probe's cell (no dedup needed). The exact refine
    filters on the staged pre-asin quantity h against a literal threshold
    (see _hav_h_threshold); hav_km itself is derived from h only for
    surviving pairs."""
    dlat = radius_km / DEG_KM
    l = planner.ensure_parallelism(left).selectExpr(
        "pid AS pid_l", "lon AS llon", "lat AS llat",
        f"CAST(FLOOR(lon / {dlit(CLON_DEG)}) AS BIGINT) AS cell_lon",
        f"CAST(FLOOR(lat / {dlit(CLAT_DEG)}) AS BIGINT) AS cell_lat",
    )
    r = planner.ensure_parallelism(right).selectExpr(
        "pid AS pid_r", "lon AS rlon", "lat AS rlat",
        f"{_lon_span_deg(radius_km)} AS dlon",
    )
    r = r.selectExpr(
        "pid_r", "rlon", "rlat",
        f"explode(sequence(CAST(FLOOR((rlon - dlon) / {dlit(CLON_DEG)}) AS BIGINT), "
        f"CAST(FLOOR((rlon + dlon) / {dlit(CLON_DEG)}) AS BIGINT))) AS cell_lon",
    ).selectExpr(
        "pid_r", "rlon", "rlat", "cell_lon",
        f"explode(sequence(CAST(FLOOR((rlat - {dlit(dlat * 1.001)}) / {dlit(CLAT_DEG)}) AS BIGINT), "
        f"CAST(FLOOR((rlat + {dlit(dlat * 1.001)}) / {dlit(CLAT_DEG)}) AS BIGINT))) AS cell_lat",
    )
    joined = planner.cell_join(
        l.withColumnsRenamed({"cell_lon": "cell_x", "cell_lat": "cell_y"}),
        r.withColumnsRenamed({"cell_lon": "cell_x", "cell_lat": "cell_y"}),
        # cheap prefilter; the exact h-threshold filter follows the stages
        refine=f"ABS(llat - rlat) <= {dlit(dlat * 1.001)}",
    )
    for stage in _HAV_STAGES:
        joined = joined.withColumns({k: F.expr(v) for k, v in stage.items()})
    return joined.where(
        F.expr(f"havh <= {_hav_h_threshold(radius_km)}")
    ).selectExpr("pid_l", "pid_r", "havh")


def haversine_neighbor_count(
    left: DataFrame, right: DataFrame, radius_km: float,
    unit: str | None = None,
) -> DataFrame:
    """Geodesic NearestNeighborCount: per left point, how many right points
    lie within ``radius_km`` great-circle km. Output (pid_l, cnt).
    ``unit``: DistanceUnit of the radius (DistanceUnit.java:26-58);
    converted to km at plan time (None/Default = already km)."""
    from . import units

    if unit not in (None, "Default"):
        radius_km = units.to_world(radius_km, unit) / 1000.0
    return (
        _hav_pairs(left, right, radius_km)
        .groupBy("pid_l")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def haversine_nearest_join(
    left: DataFrame, right: DataFrame, radius_km: float,
    unit: str | None = None,
) -> DataFrame:
    """Geodesic nearest-feature join within a great-circle radius cap.
    Output (pid_l, pid_r, hav_km rounded 1e-6). Ties break on pid_r, as in
    the planar nearest_join. The min-reduction orders on the pre-asin h
    (monotone in distance), so the asin polynomial runs once per WINNER,
    not per candidate. ``unit``: DistanceUnit of the radius, converted
    to km at plan time (None/Default = already km)."""
    from . import units

    if unit not in (None, "Default"):
        radius_km = units.to_world(radius_km, unit) / 1000.0
    pairs = _hav_pairs(left, right, radius_km)
    return (
        pairs.groupBy("pid_l")
        .agg(F.min(F.struct("havh", "pid_r")).alias("_b"))
        .selectExpr("pid_l", "_b.pid_r AS pid_r", "_b.havh AS havh")
        .selectExpr(
            "pid_l", "pid_r", f"ROUND({_HAV_FROM_H}, 6) AS hav_km"
        )
    )


def _hav_pairs_oracle(
    left_layer: str, right_layer: str, radius_km: float
) -> str:
    """DuckDB candidate generation: the same conservative lat/lon band
    prefilter as the cell join (bbox inequality join instead of cells — a
    superset of the same refine, so results are identical), then the same
    staged-column haversine refine on the pre-asin h threshold."""
    dlat = radius_km / DEG_KM
    span = _lon_span_deg(radius_km).replace("lat", "r.lat")
    s1 = ", ".join(f"{v} AS {k}" for k, v in _HAV_STAGES[0].items())
    s2 = ", ".join(f"{v} AS {k}" for k, v in _HAV_STAGES[1].items())
    s3 = ", ".join(f"{v} AS {k}" for k, v in _HAV_STAGES[2].items())
    return f"""
SELECT pid_l, pid_r, havh FROM (
  SELECT pid_l, pid_r, {s3} FROM (
    SELECT pid_l, pid_r, {s2} FROM (
      SELECT l.pid AS pid_l, r.pid AS pid_r,
             l.lat AS llat, l.lon AS llon, r.lat AS rlat, r.lon AS rlon,
             {s1}
      FROM geo_{left_layer} l JOIN geo_{right_layer} r
        ON ABS(l.lat - r.lat) <= {dlit(dlat * 1.001 + CLAT_DEG)}
       AND ABS(l.lon - r.lon) <= {span} + {dlit(CLON_DEG)}
    )
  )
) WHERE havh <= {_hav_h_threshold(radius_km)}
"""


def geo_cte(*layers: str) -> str:
    """WITH-clause text registering geo_<layer> lon/lat views for DuckDB."""
    parts = [
        f"geo_{name} AS ({lonlat_layer_sql(world.LAYER_SQL[name])})"
        for name in layers
    ]
    return "WITH " + ",\n".join(parts)


def neighbor_count_oracle(
    left_layer: str, right_layer: str, radius_km: float
) -> str:
    return f"""
{geo_cte(left_layer, right_layer)},
pairs AS ({_hav_pairs_oracle(left_layer, right_layer, radius_km)})
SELECT pid_l, CAST(COUNT(*) AS BIGINT) AS cnt FROM pairs GROUP BY pid_l
"""


def nearest_join_oracle(
    left_layer: str, right_layer: str, radius_km: float
) -> str:
    return f"""
{geo_cte(left_layer, right_layer)},
pairs AS ({_hav_pairs_oracle(left_layer, right_layer, radius_km)})
SELECT pid_l, pid_r, ROUND({_HAV_FROM_H}, 6) AS hav_km FROM (
  SELECT pid_l, pid_r, havh,
         ROW_NUMBER() OVER (PARTITION BY pid_l
           ORDER BY havh ASC, pid_r ASC) AS rn
  FROM pairs
) WHERE rn = 1
"""


def load_geo_layer(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Geographic reading of a planar point layer (pid, lon, lat)."""
    world.register_tables(spark, sf_dir)
    return spark.sql(lonlat_layer_sql(world.LAYER_SQL[name]))


# ---------------------------------------------------------------------------
# Geodesic buffer approximation
# ---------------------------------------------------------------------------


def _fullturn_trig(n_vertices: int) -> tuple[str, str]:
    """(sin, cos) SQL text at theta = 2 pi k / n for k in [0, n): the Taylor
    kernels hold only on |x| <= pi/2, so evaluate at the QUARTER angle
    q = theta/4 (|q| < pi/2 for any k < n) and double twice:
    sin 2a = 2 sin a cos a, cos 2a = 1 - 2 sin^2 a."""
    theta = f"(CAST(k AS DOUBLE) * {dlit(2.0 * 3.141592653589793 / n_vertices)})"
    q = f"({theta} / 4.0)"
    sq, cq = _sin_poly(q), _cos_poly(q)
    sin_h = f"(2.0 * {sq} * {cq})"
    cos_h = f"(1.0 - 2.0 * {sq} * {sq})"
    sin_t = f"(2.0 * {sin_h} * {cos_h})"
    cos_t = f"(1.0 - 2.0 * {sin_h} * {sin_h})"
    return sin_t, cos_t


def geodesic_buffer(
    points: DataFrame, radius_km: float, n_vertices: int = 16
) -> DataFrame:
    """Small-circle buffer ring per point, the geodesic analogue of the
    planar BufferExpression ring: vertex k at bearing theta_k = 2 pi k / n,
    displaced dlat = (r/DEG_KM) cos(theta), dlon = (r/DEG_KM) sin(theta) /
    cos(lat) — the first-order geodesic direct solution, matching the
    reference's GeodeticBuilder polygon approximation (exact on meridians,
    O((r/R)^2) elsewhere). Output (pid, k, vlon, vlat)."""
    rdeg = radius_km / DEG_KM
    ks = ", ".join(str(k) for k in range(n_vertices))
    sin_t, cos_t = _fullturn_trig(n_vertices)
    lat_r = f"(lat * {DEG2RAD})"
    return planner.ensure_parallelism(points).selectExpr(
        "pid", "lon", "lat", f"explode(array({ks})) AS k"
    ).selectExpr(
        "pid", "CAST(k AS INT) AS k",
        f"ROUND(lon + {dlit(rdeg)} * {sin_t} / "
        f"GREATEST({_cos_poly(lat_r)}, {dlit(1e-6)}), 6) AS vlon",
        f"ROUND(lat + {dlit(rdeg)} * {cos_t}, 6) AS vlat",
    )


def geodesic_buffer_oracle(
    layer: str, radius_km: float, n_vertices: int = 16
) -> str:
    rdeg = radius_km / DEG_KM
    sin_t, cos_t = _fullturn_trig(n_vertices)
    lat_r = f"(lat * {DEG2RAD})"
    return f"""
{geo_cte(layer)}
SELECT pid, CAST(k AS INT) AS k,
       ROUND(lon + {dlit(rdeg)} * {sin_t} /
             GREATEST({_cos_poly(lat_r)}, {dlit(1e-6)}), 6) AS vlon,
       ROUND(lat + {dlit(rdeg)} * {cos_t}, 6) AS vlat
FROM geo_{layer}, LATERAL UNNEST(generate_series(0, {n_vertices - 1})) AS u(k)
"""
