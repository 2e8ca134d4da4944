"""Raster <-> vector pipeline over the image+caption table.

BASELINE.json input_hint: an Iceberg table ``(image_id string, bytes binary,
w int, h int, fmt string, caption string, phash bigint)`` at 10^12-image
design scale. Here the table is synthesized deterministically from `orders`
(metadata via shared SQL fragments — oracle-checkable; pixel bytes via an
Arrow-batched generator — pytest-checked against PSNR/caption invariants).

Raster model (SURVEY.md §1.4): a raster is a TABLE of tiles
(tile_x, tile_y, block binary, width, height) on a fixed world grid — the
distributed analogue of the reference's DiskMemImage tile store
(GT/core/DiskMemImage.java). Image footprints live on the [0,1000)^2 plane;
rasterization burns decoded pixels into world tiles via applyInPandas
(numpy per tile group — the only Python in the pipeline, Arrow-batched).

Reference parity:
- footprint->tile cover     <- the tile assignment contract of BASELINE.json
- ``zonal_stats``           <- RasterZonalOperation.java:69-152 (zones
  rasterized at value-raster resolution; per-pixel accumulate per zone)
- ``kernel_density``        <- RasterKernelDensityOperation.java:49-295
  (integer pixel-offset kernel, zero outside radius, scaleArea =
  valid_cells * pixelArea / 1e6, additive stamping)
- decode/PSNR invariants    <- BASELINE.json "decoded-pixel allclose
  (PSNR>=40dB for lossy formats) + caption equality"
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import cells, planner, world
from .world import dlit

TILE_SIZE = 50.0  # world units per tile -> 20x20 tiles over the world
PIXELS_PER_TILE = 100  # tile resolution -> 0.5 world units per pixel
FOOT_SCALE = 0.2  # world units per image pixel in the footprint

# ---------------------------------------------------------------------------
# Image table synthesis (deterministic, from `orders`)
# ---------------------------------------------------------------------------

# phash: 63-bit perceptual-hash stand-in. Images in the same decade group
# (g = okey - okey % 10) share a base hash; the okey%10==7 member differs
# from the %10==0 member by exactly two planted bits — deterministic
# near-duplicate pairs for the Hamming-LSH dedup operator. Spark text uses
# ^ / SHIFTLEFT; the DuckDB oracle spells the same semantics with xor() /
# << (integer ops are exact, so values match despite different spellings).
_PHASH_BASE = "((o_orderkey - o_orderkey % 10) * 2654435761) % 9223372036854775783"
PHASH_SQL_SPARK = (
    f"CASE WHEN o_orderkey % 10 = 7 THEN ({_PHASH_BASE}) "
    "^ SHIFTLEFT(1L, CAST(o_orderkey % 31 AS INT)) "
    "^ SHIFTLEFT(1L, CAST(32 + o_orderkey % 29 AS INT)) "
    f"WHEN o_orderkey % 10 = 0 THEN ({_PHASH_BASE}) "
    f"ELSE (o_orderkey * 2654435761) % 9223372036854775783 END"
)
PHASH_SQL_DUCK = (
    f"CASE WHEN o_orderkey % 10 = 7 THEN xor(xor(({_PHASH_BASE}), "
    "(CAST(1 AS BIGINT) << CAST(o_orderkey % 31 AS INT))), "
    "(CAST(1 AS BIGINT) << CAST(32 + o_orderkey % 29 AS INT))) "
    f"WHEN o_orderkey % 10 = 0 THEN ({_PHASH_BASE}) "
    f"ELSE (o_orderkey * 2654435761) % 9223372036854775783 END"
)


def _images_meta_sql(phash_sql: str) -> str:
    return (
        "SELECT CONCAT('img_', CAST(o_orderkey AS VARCHAR(32))) AS image_id, "
        "o_orderkey AS okey, "
        "CAST(16 + (o_orderkey % 4) * 8 AS INT) AS w, "
        "CAST(16 + (o_orderkey % 3) * 8 AS INT) AS h, "
        "'rgb8' AS fmt, "
        "CONCAT('cap ', o_orderpriority, ' ', CAST(o_orderkey AS VARCHAR(32))) "
        "AS caption, "
        f"{phash_sql} AS phash, "
        f"{world.px_sql('o_orderkey * 7 + 11')} AS fx, "
        f"{world.py_sql('o_orderkey * 7 + 11')} AS fy "
        "FROM orders"
    )


IMAGES_META_SQL = _images_meta_sql(PHASH_SQL_SPARK)
IMAGES_META_SQL_DUCK = _images_meta_sql(PHASH_SQL_DUCK)


def images_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image metadata + footprint origin (fx, fy) — shared SQL, no bytes."""
    world.register_tables(spark, sf_dir)
    return spark.sql(IMAGES_META_SQL)


def gen_pixels(okey: int, w: int, h: int) -> np.ndarray:
    """Deterministic RGB8 pixel pattern for image ``okey`` (h, w, 3)."""
    i = np.arange(w * h * 3, dtype=np.int64)
    return ((okey * 31 + i * 7) % 256).astype(np.uint8).reshape(h, w, 3)


def _payloads(okey, w, h, enc=np.ndarray.tobytes) -> list:
    """Encoded payload of every (okey, w, h) row, in order."""
    return [
        enc(gen_pixels(int(k), int(w_), int(h_)))
        for k, w_, h_ in zip(okey, w, h)
    ]


def with_bytes(meta: DataFrame, fmt: str = "rgb8") -> DataFrame:
    """Attach the ``bytes`` column: a scalar pandas UDF over (okey, w, h).

    fmt='rgb8' is the raw encoding (w*h*3 uint8); fmt='dct' runs the
    pure-numpy lossy transform codec (see ``dctcodec``) — a genuinely
    lossy path for the PSNR>=40dB contract. External wire formats (jpeg,
    webp) would need codec libs absent from this container — decode_image
    raises NotImplementedError for them, per the stubbing contract.

    The payload is an ordinary column, so the optimizer prunes it from
    every consumer that does not read it: a count, a size aggregate or a
    metadata-only filter runs no Python at all, and a consumer that does
    read it (the WebDataset export, patchify) evaluates it once per row.
    """
    from . import dctcodec

    enc = (
        np.ndarray.tobytes
        if fmt == "rgb8"
        else dctcodec.encode
        if fmt == "dct"
        else None
    )
    if enc is None:
        raise NotImplementedError(
            f"encoder '{fmt}' requires an image library not present in this "
            "container"
        )

    @F.pandas_udf(T.BinaryType())
    def gen(okey: pd.Series, w: pd.Series, h: pd.Series) -> pd.Series:
        return pd.Series(_payloads(okey, w, h, enc))

    # Payload synthesis is the table's decode-equivalent cost; without the
    # guard it runs at the raw orders-scan split count (1-2 partitions at
    # bench scale) and every downstream image op inherits the bottleneck.
    # At real scale a 10^12-row table scan has ample splits and this is a
    # no-op.
    return planner.ensure_parallelism(meta).withColumns(
        {"fmt": F.lit(fmt), "bytes": gen("okey", "w", "h")}
    )


def payload_rgb8(pdf: pd.DataFrame) -> list:
    """Late-materialization hook for `wds.write_wds_shards(payload=...)`:
    synthesize the deterministic rgb8 payload from a metadata frame.
    Models the pointer-dereference a stored-image pipeline would do at
    the writer (object-store range read) — here the 'pointer' is okey."""
    return _payloads(pdf["okey"], pdf["w"], pdf["h"])


def images_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full BASELINE.json input-shape table:
    (image_id, bytes, w, h, fmt, caption, phash) + footprint origin."""
    return with_bytes(images_meta(spark, sf_dir))


def images_table_lossy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same table with fmt='dct' lossy-coded bytes — the PSNR>=40dB
    contract's input (tests assert 40 <= PSNR < inf per row)."""
    return with_bytes(images_meta(spark, sf_dir), fmt="dct")


def decode_image(data: bytes, w: int, h: int, fmt: str) -> np.ndarray:
    """Decode a ``bytes`` payload to an (h, w, 3) uint8 array.

    rgb8 (raw) and dct (pure-numpy lossy transform codec) are real;
    external wire formats are stubbed — the Spark-side plumbing (schema,
    batching, tile burn) is identical for any decoder."""
    if fmt == "rgb8":
        arr = np.frombuffer(data, dtype=np.uint8)
        return arr.reshape(h, w, 3)
    if fmt == "dct":
        from . import dctcodec

        return dctcodec.decode(bytes(data))
    raise NotImplementedError(
        f"codec '{fmt}' requires an image library not present in this "
        "container; plug a decoder into decode_image"
    )


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB (inf for identical arrays)."""
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0:
        return math.inf
    return 10.0 * math.log10(255.0 * 255.0 / mse)


# ---------------------------------------------------------------------------
# Footprint -> tile cover (the tile-assignment contract; oracle-expressible)
# ---------------------------------------------------------------------------


def footprint_tiles(meta: DataFrame, tile_size: float = TILE_SIZE) -> DataFrame:
    """Explode each image footprint to the tiles it covers.

    Footprint = [fx, fx + w*FOOT_SCALE) x [fy, fy + h*FOOT_SCALE); tiles are
    a fixed grid of ``tile_size`` world units. Pure sequence/floor exprs —
    at 10^12 images this is one narrow projection + explode, no shuffle.
    Output: (image_id, caption, tx, ty).
    """
    ts = dlit(tile_size)
    fs = dlit(FOOT_SCALE)
    df = planner.ensure_parallelism(meta).withColumn(
        "tx",
        F.expr(
            f"explode(sequence(CAST(FLOOR(fx / {ts}) AS BIGINT), "
            f"CAST(FLOOR((fx + w * {fs}) / {ts}) AS BIGINT)))"
        ),
    ).withColumn(
        "ty",
        F.expr(
            f"explode(sequence(CAST(FLOOR(fy / {ts}) AS BIGINT), "
            f"CAST(FLOOR((fy + h * {fs}) / {ts}) AS BIGINT)))"
        ),
    )
    return df.select("image_id", "caption", "tx", "ty")


def footprint_tiles_oracle_sql(tile_size: float = TILE_SIZE) -> str:
    ts, fs = dlit(tile_size), dlit(FOOT_SCALE)
    # DuckDB: the generate_series TABLE function cannot take lateral column
    # args; the scalar form returns a list we UNNEST. Two UNNESTs in one
    # SELECT zip rather than cross, hence the two-level nesting.
    return f"""
WITH meta AS ({IMAGES_META_SQL_DUCK}),
t1 AS (SELECT image_id, caption, fy, h,
       UNNEST(generate_series(CAST(FLOOR(fx / {ts}) AS BIGINT),
                              CAST(FLOOR((fx + w * {fs}) / {ts}) AS BIGINT))) AS tx
       FROM meta)
SELECT image_id, caption, tx,
       UNNEST(generate_series(CAST(FLOOR(fy / {ts}) AS BIGINT),
                              CAST(FLOOR((fy + h * {fs}) / {ts}) AS BIGINT))) AS ty
FROM t1
"""


# ---------------------------------------------------------------------------
# Rasterization: burn decoded image pixels into world tiles
# ---------------------------------------------------------------------------

_TILE_SCHEMA = T.StructType(
    [
        T.StructField("tx", T.LongType()),
        T.StructField("ty", T.LongType()),
        T.StructField("npix", T.LongType()),
        T.StructField("sum_lum", T.DoubleType()),
        T.StructField("block", T.BinaryType()),
    ]
)


def rasterize_tiles(images: DataFrame, tile_size: float = TILE_SIZE) -> DataFrame:
    """Burn image luminance into the world tile grid (nearest-neighbor).

    Plan: footprint->tile cover (explode, JVM) repartitions by (tx, ty), then
    applyInPandas accumulates each tile's pixel block in numpy — the halo-free
    raster<->vector workhorse. Output one row per non-empty tile:
    (tx, ty, npix, sum_lum, block=float32 PIXELS_PER_TILE^2 grid).
    """
    ppt = PIXELS_PER_TILE
    res = tile_size / ppt

    covered = planner.ensure_parallelism(
        images.select("image_id", "okey", "w", "h", "fmt", "bytes", "fx", "fy")
    )
    ts = dlit(tile_size)
    fs = dlit(FOOT_SCALE)
    covered = covered.withColumn(
        "tx",
        F.expr(
            f"explode(sequence(CAST(FLOOR(fx / {ts}) AS BIGINT), "
            f"CAST(FLOOR((fx + w * {fs}) / {ts}) AS BIGINT)))"
        ),
    ).withColumn(
        "ty",
        F.expr(
            f"explode(sequence(CAST(FLOOR(fy / {ts}) AS BIGINT), "
            f"CAST(FLOOR((fy + h * {fs}) / {ts}) AS BIGINT)))"
        ),
    )

    def burn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(key[0]), int(key[1])
        block = np.zeros((ppt, ppt), dtype=np.float64)
        ox, oy = tx * tile_size, ty * tile_size
        for row in pdf.itertuples():
            img = decode_image(row.bytes, row.w, row.h, row.fmt)
            lum = img.astype(np.float64).mean(axis=2)  # (h, w)
            # world coords of this tile's pixel centers, mapped into image px
            pj = np.arange(ppt) * res + ox + res / 2.0  # world x per col
            pi = np.arange(ppt) * res + oy + res / 2.0  # world y per row
            jx = np.floor((pj - row.fx) / FOOT_SCALE).astype(np.int64)
            iy = np.floor((pi - row.fy) / FOOT_SCALE).astype(np.int64)
            jmask = (jx >= 0) & (jx < row.w)
            imask = (iy >= 0) & (iy < row.h)
            if not jmask.any() or not imask.any():
                continue
            block[np.ix_(imask, jmask)] += lum[iy[imask][:, None], jx[jmask][None, :]]
        npix = int((block > 0).sum())
        return pd.DataFrame(
            {
                "tx": [tx],
                "ty": [ty],
                "npix": [npix],
                "sum_lum": [float(block.sum())],
                "block": [block.astype(np.float32).tobytes()],
            }
        )

    return covered.groupBy("tx", "ty").applyInPandas(burn, schema=_TILE_SCHEMA)


def rasterize_tiles_sums_oracle() -> str:
    """Closed-form oracle for the rasterize_tiles twin: every quantity in
    the burn kernel is deterministic — tile-pixel centers are exact dyadic
    doubles (0.25 + 0.5*m reproduces the kernel's j*res + ox + res/2
    bit-for-bit), the nearest-neighbor image-pixel lookup is the same
    FLOOR expression, and the generator luminance sum per pixel is
    integer ((okey*31 + 21p + 7c) mod 256 summed over c). lum3 = 3 *
    sum_lum recovered as an exact BIGINT (float accumulation error
    ~1e-8 << 0.5). Empty covered tiles mirror the kernel's cover-explode
    row set via a LEFT JOIN."""
    ts, fs = dlit(TILE_SIZE), dlit(FOOT_SCALE)
    res, half = dlit(0.5), dlit(0.25)
    return f"""
WITH img AS ({IMAGES_META_SQL_DUCK}),
gs AS (SELECT generate_series AS g FROM generate_series(0, 2200)),
gt AS (SELECT generate_series AS g FROM generate_series(0, 25)),
mj AS (
  SELECT i.okey, i.w, i.h, i.fx, i.fy, s.g AS m
  FROM img i JOIN gs s
    ON s.g >= CAST(FLOOR(i.fx / {res}) AS BIGINT) - 1
   AND s.g <= CAST(FLOOR((i.fx + i.w * {fs}) / {res}) AS BIGINT) + 1
),
pxy AS (
  SELECT j.okey, j.w, j.h, j.fx, j.fy, j.m, s.g AS n,
         CAST(FLOOR(({half} + {res} * j.m - j.fx) / {fs}) AS BIGINT) AS jx,
         CAST(FLOOR(({half} + {res} * s.g - j.fy) / {fs}) AS BIGINT) AS iy
  FROM mj j JOIN gs s
    ON s.g >= CAST(FLOOR(j.fy / {res}) AS BIGINT) - 1
   AND s.g <= CAST(FLOOR((j.fy + j.h * {fs}) / {res}) AS BIGINT) + 1
),
hit AS (
  SELECT m, n, ((okey * 31 + (iy * w + jx) * 21) % 256) AS b
  FROM pxy WHERE jx >= 0 AND jx < w AND iy >= 0 AND iy < h
),
cell AS (
  SELECT m, n,
         CAST(SUM(b + (b + 7) % 256 + (b + 14) % 256) AS BIGINT) AS s3
  FROM hit GROUP BY m, n
),
tiles AS (
  SELECT DISTINCT gx.g AS tx, gy.g AS ty
  FROM img i
  JOIN gt gx ON gx.g >= CAST(FLOOR(i.fx / {ts}) AS BIGINT)
            AND gx.g <= CAST(FLOOR((i.fx + i.w * {fs}) / {ts}) AS BIGINT)
  JOIN gt gy ON gy.g >= CAST(FLOOR(i.fy / {ts}) AS BIGINT)
            AND gy.g <= CAST(FLOOR((i.fy + i.h * {fs}) / {ts}) AS BIGINT)
)
SELECT t.tx AS tx, t.ty AS ty,
       CAST(COALESCE(ca.npix, 0) AS BIGINT) AS npix,
       CAST(COALESCE(ca.lum3, 0) AS BIGINT) AS lum3
FROM tiles t LEFT JOIN (
  SELECT CAST(FLOOR(CAST(m AS DOUBLE) / 100.0) AS BIGINT) AS tx,
         CAST(FLOOR(CAST(n AS DOUBLE) / 100.0) AS BIGINT) AS ty,
         COUNT(*) AS npix, SUM(s3) AS lum3
  FROM cell GROUP BY 1, 2
) ca ON ca.tx = t.tx AND ca.ty = t.ty
"""


# ---------------------------------------------------------------------------
# Zonal statistics: synthetic value raster x rectangle zones
# ---------------------------------------------------------------------------

ZONAL_GRID = 500  # 500x500 pixels, 2 world units per pixel
_ZPIX = (
    "SELECT CAST(uid % 500 AS BIGINT) AS ix, CAST(FLOOR(uid / 500) AS BIGINT) AS iy, "
    f"CAST(uid % 500 AS DOUBLE) * {dlit(2.0)} + {dlit(1.0)} AS px, "
    f"CAST(FLOOR(uid / 500) AS BIGINT) * {dlit(2.0)} + {dlit(1.0)} AS py, "
    "((uid % 500) * 7919 + CAST(FLOOR(uid / 500) AS BIGINT) * 104729) % 1000 AS v "
)
ZONAL_PIXELS_SQL_DUCK = (
    _ZPIX + "FROM (SELECT generate_series AS uid FROM generate_series(0, 249999))"
)
ZONAL_PIXELS_SQL_SPARK = _ZPIX + "FROM (SELECT id AS uid FROM RANGE(250000))"


def zonal_stats(spark: SparkSession, rects: DataFrame) -> DataFrame:
    """Per-zone Count/Sum/Mean/Min/Max over the synthetic value raster.

    Zones are rasterized implicitly: a pixel belongs to the zone containing
    its center (the reference rasterizes zones at value-raster resolution and
    pair-scans, RasterZonalOperation.java:119-145). Distributed shape: pixel
    grid (spark.range, no data movement) cell-joined to broadcast zones,
    map-side partial stats per zone. Integer pixel values keep sums exact.
    """
    pixels = spark.sql(ZONAL_PIXELS_SQL_SPARK)
    p = cells.with_point_cells(
        planner.ensure_parallelism(pixels), x="px", y="py",
        cell_size=cells.DEFAULT_CELL_SIZE,
    )
    r = cells.explode_extent_cells(
        world.rect_corners(rects), cell_size=cells.DEFAULT_CELL_SIZE
    )
    joined = planner.cell_join(p, r, world.rect_contains_sql("px", "py"))
    return joined.groupBy("rid").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("v").cast("long").alias("sum_v"),
        F.expr("ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6)").alias("mean_v"),
        F.min("v").cast("long").alias("min_v"),
        F.max("v").cast("long").alias("max_v"),
    )


def zonal_oracle_sql() -> str:
    return world.with_layers(
        f"""
WITH pix AS ({ZONAL_PIXELS_SQL_DUCK})
SELECT r.rid AS rid, CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(SUM(p.v) AS BIGINT) AS sum_v,
       ROUND(CAST(SUM(p.v) AS DOUBLE) / COUNT(*), 6) AS mean_v,
       CAST(MIN(p.v) AS BIGINT) AS min_v, CAST(MAX(p.v) AS BIGINT) AS max_v
FROM rects_customer r JOIN pix p
  ON p.px >= r.cx - r.hw AND p.px <= r.cx + r.hw
 AND p.py >= r.cy - r.hh AND p.py <= r.cy + r.hh
GROUP BY r.rid
""",
        "rects_customer",
    )


# ---------------------------------------------------------------------------
# Kernel density raster (RasterKernelDensityOperation semantics)
# ---------------------------------------------------------------------------

KD_CELL = 5.0  # 200x200 output grid
KD_RADIUS_PX = 4  # search radius 20 world units -> floor(20/5)=4 pixels

KERNELS = {
    # From the reference's kernel switch
    # (RasterKernelDensityOperation.java:236-274). Even-power kernels use
    # u2 = d2/r2 (exactly dyadic for integer offsets), so weight*kernel sums
    # are EXACT in any partitioning order — the reference's u = sqrt(d2)/r
    # then u*u differs only in the last ulp (semantic parity preserved).
    # Odd-power kernels (triangular) need u = sqrt(d2)/r and are rounded.
    "quartic": "(15.0 / 16.0) * (1.0 - u2) * (1.0 - u2)",
    "epanechnikov": "3.0 * (1.0 - u2) / 4.0",
    "triangular": "1.0 - u",
    "triweight": "(35.0 / 32.0) * (1.0 - u2) * (1.0 - u2) * (1.0 - u2)",
    "binary": "1.0",
    "quadratic": "3.0 * (1.0 - u2) * (1.0 - u2)",
}


def _kd_stages(kernel: str, rpx: int) -> list[tuple[str, str]]:
    r2 = float(rpx * rpx)
    return [
        ("d2", "CAST(dx * dx + dy * dy AS DOUBLE)"),
        ("r2", dlit(r2)),
        ("u2", "d2 / r2"),
        ("u", f"SQRT(d2) / {dlit(float(rpx))}"),
        ("kval", f"CASE WHEN d2 > {dlit(r2)} THEN 0.0 ELSE {KERNELS[kernel]} END"),
    ]


def kernel_density(
    points: DataFrame,
    kernel: str = "quartic",
    cell: float = KD_CELL,
    rpx: int = KD_RADIUS_PX,
    weight_col: str = "w",
) -> DataFrame:
    """Kernel density raster: stamp each point's kernel window additively.

    Exact reference semantics: the point snaps to its grid cell, the kernel
    is evaluated at integer pixel offsets (zero beyond the pixel radius), and
    scaleArea = valid_kernel_cells * pixelArea / 1e6
    (RasterKernelDensityOperation.java:88,181,206-295). The offset explode is
    JVM-side; output (cx, cy, kd) for non-zero cells.
    """
    from .binning import apply_stages

    n_valid = sum(
        1
        for dx in range(-rpx, rpx + 1)
        for dy in range(-rpx, rpx + 1)
        if dx * dx + dy * dy <= rpx * rpx
    )
    scale_area = n_valid * cell * cell / 1e6

    df = planner.ensure_parallelism(points).select(
        F.expr(f"CAST(FLOOR(x / {dlit(cell)}) AS BIGINT)").alias("pcx"),
        F.expr(f"CAST(FLOOR(y / {dlit(cell)}) AS BIGINT)").alias("pcy"),
        F.col(weight_col).alias("wgt"),
    )
    df = df.withColumn("dx", F.expr(f"explode(sequence({-rpx}, {rpx}))"))
    df = df.withColumn("dy", F.expr(f"explode(sequence({-rpx}, {rpx}))"))
    df = df.where(F.expr(f"dx * dx + dy * dy <= {rpx * rpx}"))
    df = apply_stages(df, _kd_stages(kernel, rpx))
    out = (
        df.withColumn("cx", F.col("pcx") + F.col("dx"))
        .withColumn("cy", F.col("pcy") + F.col("dy"))
        .groupBy("cx", "cy")
        # No ROUND: integer weights x dyadic kernel values (denominator 4096
        # for the quartic) sum exactly in any order, and the final division
        # is one deterministic IEEE op — both engines produce identical bits.
        .agg((F.sum(F.expr("wgt * kval")) / F.lit(scale_area)).alias("kd"))
    )
    return out


def kernel_density_oracle_sql(
    points_base: str,
    kernel: str = "quartic",
    cell: float = KD_CELL,
    rpx: int = KD_RADIUS_PX,
    weight_col: str = "w",
) -> str:
    from .binning import stages_to_subquery

    n_valid = sum(
        1
        for dx in range(-rpx, rpx + 1)
        for dy in range(-rpx, rpx + 1)
        if dx * dx + dy * dy <= rpx * rpx
    )
    scale_area = n_valid * cell * cell / 1e6
    base = f"""
SELECT CAST(FLOOR(x / {dlit(cell)}) AS BIGINT) AS pcx,
       CAST(FLOOR(y / {dlit(cell)}) AS BIGINT) AS pcy,
       {weight_col} AS wgt, gx.generate_series AS dx, gy.generate_series AS dy
FROM ({points_base}),
     generate_series({-rpx}, {rpx}) gx, generate_series({-rpx}, {rpx}) gy
WHERE gx.generate_series * gx.generate_series
    + gy.generate_series * gy.generate_series <= {rpx * rpx}
"""
    sub = stages_to_subquery(base, _kd_stages(kernel, rpx))
    return (
        f"SELECT pcx + dx AS cx, pcy + dy AS cy, "
        f"SUM(wgt * kval) / {dlit(scale_area)} AS kd "
        f"FROM {sub} GROUP BY pcx + dx, pcy + dy"
    )


# ---------------------------------------------------------------------------
# Raster map algebra + focal + sampling over the synthetic value raster
# ---------------------------------------------------------------------------

# Reference parity (GT = .../geotools/process/spatialstatistics):
# - raster_reclass      <- GT/gridcoverage/RasterReclassOperation.java:43
#                          (range remap); raster_math / NDVI expression ops
#                          <- RasterMathOperation.java:44, RasterNDVIOperation
#                          .java:44 — all local (per-pixel) map algebra,
#                          i.e. a narrow projection over the pixel table.
# - focal_slope         <- RasterSlopeOperation.java:47 (3x3 Horn stencil,
#                          AbstractSurfaceOperation.java:38). Distributed
#                          shape: **halo exchange** — every pixel SENDS its
#                          value to its 8 neighbors (explode of the 3x3
#                          offsets, a narrow op), then groupBy(target pixel)
#                          reassembles the stencil. One shuffle, no
#                          point-to-point reads; at tile granularity the
#                          identical plan ships 1-pixel tile borders.
# - extract_values      <- RasterExtractValuesToPointsOperation.java:46
#                          (sample raster at point locations -> PIP-style
#                          cell equi-join, pixel id is the join key).
# - raster_histogram    <- HistogramGridCoverageProcess (value-bucket
#                          frequency; groupBy bucket).

ZPIX_CELL = 2.0  # zonal grid resolution (see ZONAL_PIXELS_SQL_*)


def raster_clip_extent(
    spark: SparkSession,
    x0: float = 200.0,
    y0: float = 300.0,
    x1: float = 520.0,
    y1: float = 640.0,
) -> DataFrame:
    """RasterClipOperation: crop the value raster to an extent — pixels whose
    CENTER falls inside keep their grid indices (reference crop semantics,
    GT/gridcoverage/RasterClipOperation.java:41; the polygon-mask variant is
    the same filter with a containment predicate, cf. zonal_stats). A clip
    is a pure filter: at 100 TB the predicate prunes tile partitions at the
    scan, never rewrites pixels. Output per clipped row: (iy, n_pix, sum_v,
    ix0, ix1)."""
    pixels = planner.ensure_parallelism(spark.sql(ZONAL_PIXELS_SQL_SPARK))
    clipped = pixels.where(F.expr(
        f"px >= {dlit(x0)} AND px <= {dlit(x1)} AND "
        f"py >= {dlit(y0)} AND py <= {dlit(y1)}"
    ))
    return clipped.groupBy("iy").agg(
        F.count(F.lit(1)).alias("n_pix"),
        F.sum("v").cast("long").alias("sum_v"),
        F.min("ix").cast("long").alias("ix0"),
        F.max("ix").cast("long").alias("ix1"),
    )


def raster_clip_extent_oracle(
    x0: float = 200.0, y0: float = 300.0, x1: float = 520.0, y1: float = 640.0
) -> str:
    return f"""
WITH pix AS ({ZONAL_PIXELS_SQL_DUCK})
SELECT iy, CAST(COUNT(*) AS BIGINT) AS n_pix, CAST(SUM(v) AS BIGINT) AS sum_v,
       CAST(MIN(ix) AS BIGINT) AS ix0, CAST(MAX(ix) AS BIGINT) AS ix1
FROM pix
WHERE px >= {dlit(x0)} AND px <= {dlit(x1)}
  AND py >= {dlit(y0)} AND py <= {dlit(y1)}
GROUP BY iy
"""


def raster_reclass(spark: SparkSession) -> DataFrame:
    """Range-remap of the synthetic value raster into 5 classes + per-class
    pixel counts and exact sums. Output (cls, n_pix, sum_v)."""
    pixels = planner.ensure_parallelism(spark.sql(ZONAL_PIXELS_SQL_SPARK))
    cls = F.expr(
        "CASE WHEN v < 100 THEN 0 WHEN v < 300 THEN 1 WHEN v < 600 THEN 2 "
        "WHEN v < 900 THEN 3 ELSE 4 END"
    )
    return (
        pixels.withColumn("cls", cls)
        .groupBy("cls")
        .agg(
            F.count(F.lit(1)).alias("n_pix"),
            F.sum("v").cast("long").alias("sum_v"),
        )
    )


def raster_reclass_oracle() -> str:
    return f"""
WITH pix AS ({ZONAL_PIXELS_SQL_DUCK})
SELECT CASE WHEN v < 100 THEN 0 WHEN v < 300 THEN 1 WHEN v < 600 THEN 2
            WHEN v < 900 THEN 3 ELSE 4 END AS cls,
       CAST(COUNT(*) AS BIGINT) AS n_pix, CAST(SUM(v) AS BIGINT) AS sum_v
FROM pix GROUP BY 1
"""


_NDVI_RED = "(v * 7 + ix * 3) % 256 AS red"
_NDVI_NIR = "(v * 11 + iy * 5) % 256 AS nir"


def raster_ndvi(spark: SparkSession) -> DataFrame:
    """Two synthetic bands derived per pixel; NDVI = (nir-red)/(nir+red).
    Output one row per 50x50 block: (bx, by, n, ndvi_mean) — the per-pixel
    NDVI is a narrow expression; the block mean keeps the gate result
    compact. Sums are exact integer ratios scaled by 1e6 before rounding."""
    pixels = planner.ensure_parallelism(spark.sql(ZONAL_PIXELS_SQL_SPARK))
    df = pixels.selectExpr("ix", "iy", "v", _NDVI_RED, _NDVI_NIR)
    df = df.where(F.expr("nir + red > 0"))
    ndvi_u = F.expr(
        "CAST(FLOOR(1000000.0 * CAST(nir - red AS DOUBLE) "
        "/ CAST(nir + red AS DOUBLE)) AS BIGINT)"
    )
    return (
        df.withColumn("ndvi_u", ndvi_u)
        .groupBy(
            F.expr("CAST(FLOOR(ix / 50) AS BIGINT)").alias("bx"),
            F.expr("CAST(FLOOR(iy / 50) AS BIGINT)").alias("by"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("ndvi_u") / F.count(F.lit(1)) / 1e6, 6)
            .alias("ndvi_mean"),
        )
    )


def raster_ndvi_oracle() -> str:
    return f"""
WITH pix AS ({ZONAL_PIXELS_SQL_DUCK}),
bands AS (SELECT ix, iy, v, {_NDVI_RED}, {_NDVI_NIR} FROM pix),
nd AS (SELECT ix, iy,
       CAST(FLOOR(1000000.0 * CAST(nir - red AS DOUBLE)
            / CAST(nir + red AS DOUBLE)) AS BIGINT) AS ndvi_u
       FROM bands WHERE nir + red > 0)
SELECT CAST(FLOOR(ix / 50) AS BIGINT) AS bx,
       CAST(FLOOR(iy / 50) AS BIGINT) AS by,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(ndvi_u) AS DOUBLE) / COUNT(*) / 1000000.0, 6)
         AS ndvi_mean
FROM nd GROUP BY 1, 2
"""


def focal_slope(spark: SparkSession) -> DataFrame:
    """Horn 3x3 slope over the synthetic value raster via halo exchange.

    Every pixel explodes to its 9 (target, offset) contributions; a single
    groupBy(target) + conditional sums reassembles the full stencil
    (interior pixels only — count 9 filter drops the border, matching the
    reference's edge NoData). Output per 25x25 block: (bx, by, n,
    slope_sum) with slope = sqrt(gx^2 + gy^2) from the Horn kernel, scaled
    floor(1e4) per pixel so block sums are exact integers.
    """
    pixels = planner.ensure_parallelism(spark.sql(ZONAL_PIXELS_SQL_SPARK))
    sent = pixels.selectExpr("ix", "iy", "v").withColumn(
        "dx", F.expr("explode(sequence(-1, 1))")
    ).withColumn("dy", F.expr("explode(sequence(-1, 1))"))
    sent = sent.select(
        (F.col("ix") + F.col("dx")).alias("tx"),
        (F.col("iy") + F.col("dy")).alias("ty"),
        F.col("dx"), F.col("dy"), F.col("v"),
    )
    # Horn gradients (cellsize 2.0): gx = ((tr+2r+br) - (tl+2l+bl)) / (8*cs)
    # Under the send convention, the contributor at offset (dx,dy) relative
    # to the TARGET is the sender with -dx, -dy.
    g = sent.groupBy("tx", "ty").agg(
        F.count(F.lit(1)).alias("n9"),
        F.sum(F.expr(
            "CASE WHEN dx = -1 THEN (CASE WHEN dy = 0 THEN 2 ELSE 1 END) * v "
            "WHEN dx = 1 THEN -(CASE WHEN dy = 0 THEN 2 ELSE 1 END) * v "
            "ELSE 0 END"
        )).alias("gx_u"),
        F.sum(F.expr(
            "CASE WHEN dy = -1 THEN (CASE WHEN dx = 0 THEN 2 ELSE 1 END) * v "
            "WHEN dy = 1 THEN -(CASE WHEN dx = 0 THEN 2 ELSE 1 END) * v "
            "ELSE 0 END"
        )).alias("gy_u"),
    )
    cs8 = dlit(8.0 * ZPIX_CELL)
    slope_u = F.expr(
        f"CAST(FLOOR(10000.0 * SQRT((gx_u / {cs8}) * (gx_u / {cs8}) "
        f"+ (gy_u / {cs8}) * (gy_u / {cs8}))) AS BIGINT)"
    )
    interior = g.where(F.col("n9") == 9).withColumn("slope_u", slope_u)
    return (
        interior.groupBy(
            F.expr("CAST(FLOOR(tx / 25) AS BIGINT)").alias("bx"),
            F.expr("CAST(FLOOR(ty / 25) AS BIGINT)").alias("by"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("slope_u").cast("long").alias("slope_sum"),
        )
    )


def focal_slope_oracle() -> str:
    cs8 = dlit(8.0 * ZPIX_CELL)
    return f"""
WITH pix AS ({ZONAL_PIXELS_SQL_DUCK}),
sent AS (
  SELECT ix + gdx.generate_series AS tx, iy + gdy.generate_series AS ty,
         gdx.generate_series AS dx, gdy.generate_series AS dy, v
  FROM pix, generate_series(-1, 1) gdx, generate_series(-1, 1) gdy
),
g AS (
  SELECT tx, ty, COUNT(*) AS n9,
    CAST(SUM(CASE WHEN dx = -1 THEN (CASE WHEN dy = 0 THEN 2 ELSE 1 END) * v
             WHEN dx = 1 THEN -(CASE WHEN dy = 0 THEN 2 ELSE 1 END) * v
             ELSE 0 END) AS BIGINT) AS gx_u,
    CAST(SUM(CASE WHEN dy = -1 THEN (CASE WHEN dx = 0 THEN 2 ELSE 1 END) * v
             WHEN dy = 1 THEN -(CASE WHEN dx = 0 THEN 2 ELSE 1 END) * v
             ELSE 0 END) AS BIGINT) AS gy_u
  FROM sent GROUP BY tx, ty
),
sl AS (
  SELECT tx, ty,
         CAST(FLOOR(10000.0 * SQRT((gx_u / {cs8}) * (gx_u / {cs8})
              + (gy_u / {cs8}) * (gy_u / {cs8}))) AS BIGINT) AS slope_u
  FROM g WHERE n9 = 9
)
SELECT CAST(FLOOR(tx / 25) AS BIGINT) AS bx,
       CAST(FLOOR(ty / 25) AS BIGINT) AS by,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(slope_u) AS BIGINT) AS slope_sum
FROM sl GROUP BY 1, 2
"""


def extract_values_to_points(spark: SparkSession, points: DataFrame) -> DataFrame:
    """Sample the value raster at point locations: point -> containing pixel
    (ix, iy) -> equi-join on the pixel key. Output (pid, ix, iy, v)."""
    pixels = planner.ensure_parallelism(spark.sql(ZONAL_PIXELS_SQL_SPARK))
    p = points.select(
        "pid",
        F.expr(f"CAST(FLOOR(x / {dlit(ZPIX_CELL)}) AS BIGINT)").alias("ix"),
        F.expr(f"CAST(FLOOR(y / {dlit(ZPIX_CELL)}) AS BIGINT)").alias("iy"),
    )
    return p.join(
        pixels.select("ix", "iy", "v"), on=["ix", "iy"], how="inner"
    ).select("pid", "ix", "iy", F.col("v").cast("long").alias("v"))


def extract_values_oracle() -> str:
    return world.with_layers(
        f"""
WITH pix AS ({ZONAL_PIXELS_SQL_DUCK})
SELECT p.pid AS pid, q.ix AS ix, q.iy AS iy, CAST(q.v AS BIGINT) AS v
FROM (SELECT pid,
             CAST(FLOOR(x / {dlit(ZPIX_CELL)}) AS BIGINT) AS ix,
             CAST(FLOOR(y / {dlit(ZPIX_CELL)}) AS BIGINT) AS iy
      FROM points_part) p
JOIN pix q ON p.ix = q.ix AND p.iy = q.iy
""",
        "points_part",
    )


def raster_histogram(spark: SparkSession, bucket: int = 50) -> DataFrame:
    """Value-frequency histogram of the raster in ``bucket``-wide bins."""
    pixels = planner.ensure_parallelism(spark.sql(ZONAL_PIXELS_SQL_SPARK))
    return (
        pixels.groupBy(
            F.expr(f"CAST(FLOOR(v / {bucket}) AS BIGINT)").alias("bin")
        )
        .agg(F.count(F.lit(1)).alias("n_pix"))
    )


def raster_histogram_oracle(bucket: int = 50) -> str:
    return f"""
WITH pix AS ({ZONAL_PIXELS_SQL_DUCK})
SELECT CAST(FLOOR(v / {bucket}) AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_pix
FROM pix GROUP BY 1
"""


# Hillshade (RasterHillshadeOperation.java:39, azimuth 315, altitude 45).
# Trig-free algebra: with gradients (gx, gy) from the same Horn stencil and
# r^2 = gx^2 + gy^2, hillshade = 255*(cosZ + sinZ*(cosAz*(-gx) + sinAz*gy))
# / sqrt(1 + r^2) — only mul/div/sqrt, so both engines agree bit-for-bit
# (the angle cosines are compile-time constants).
_COS_Z = 0.7071067811865476   # cos 45deg
_SIN_Z = 0.7071067811865476
_COS_AZ = 0.7071067811865476  # cos 315deg
_SIN_AZ = -0.7071067811865476


def _horn_gradients(spark: SparkSession):
    pixels = planner.ensure_parallelism(spark.sql(ZONAL_PIXELS_SQL_SPARK))
    sent = pixels.selectExpr("ix", "iy", "v").withColumn(
        "dx", F.expr("explode(sequence(-1, 1))")
    ).withColumn("dy", F.expr("explode(sequence(-1, 1))"))
    sent = sent.select(
        (F.col("ix") + F.col("dx")).alias("tx"),
        (F.col("iy") + F.col("dy")).alias("ty"),
        F.col("dx"), F.col("dy"), F.col("v"),
    )
    return sent.groupBy("tx", "ty").agg(
        F.count(F.lit(1)).alias("n9"),
        F.sum(F.expr(
            "CASE WHEN dx = -1 THEN (CASE WHEN dy = 0 THEN 2 ELSE 1 END) * v "
            "WHEN dx = 1 THEN -(CASE WHEN dy = 0 THEN 2 ELSE 1 END) * v "
            "ELSE 0 END"
        )).alias("gx_u"),
        F.sum(F.expr(
            "CASE WHEN dy = -1 THEN (CASE WHEN dx = 0 THEN 2 ELSE 1 END) * v "
            "WHEN dy = 1 THEN -(CASE WHEN dx = 0 THEN 2 ELSE 1 END) * v "
            "ELSE 0 END"
        )).alias("gy_u"),
    )


_HILLSHADE_EXPR = (
    "CAST(FLOOR(255.0 * ({cz} + {sz} * ({caz} * (-1.0 * gx) + {saz} * gy)) "
    "/ SQRT(1.0 + gx * gx + gy * gy)) AS BIGINT)"
)


def focal_hillshade(spark: SparkSession) -> DataFrame:
    """Hillshade raster via the halo-exchange Horn gradients; per 25x25
    block: (bx, by, n, shade_sum) with per-pixel FLOOR(shade) integers."""
    cs8 = dlit(8.0 * ZPIX_CELL)
    g = _horn_gradients(spark).where(F.col("n9") == 9)
    g = g.withColumn("gx", F.expr(f"gx_u / {cs8}")).withColumn(
        "gy", F.expr(f"gy_u / {cs8}")
    )
    shade = _HILLSHADE_EXPR.format(
        cz=dlit(_COS_Z), sz=dlit(_SIN_Z), caz=dlit(_COS_AZ), saz=dlit(_SIN_AZ)
    )
    g = g.withColumn("shade", F.expr(shade))
    return (
        g.groupBy(
            F.expr("CAST(FLOOR(tx / 25) AS BIGINT)").alias("bx"),
            F.expr("CAST(FLOOR(ty / 25) AS BIGINT)").alias("by"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("shade").cast("long").alias("shade_sum"),
        )
    )


def focal_hillshade_oracle() -> str:
    cs8 = dlit(8.0 * ZPIX_CELL)
    shade = _HILLSHADE_EXPR.format(
        cz=dlit(_COS_Z), sz=dlit(_SIN_Z), caz=dlit(_COS_AZ), saz=dlit(_SIN_AZ)
    )
    return f"""
WITH pix AS ({ZONAL_PIXELS_SQL_DUCK}),
sent AS (
  SELECT ix + gdx.generate_series AS tx, iy + gdy.generate_series AS ty,
         gdx.generate_series AS dx, gdy.generate_series AS dy, v
  FROM pix, generate_series(-1, 1) gdx, generate_series(-1, 1) gdy
),
g AS (
  SELECT tx, ty, COUNT(*) AS n9,
    CAST(SUM(CASE WHEN dx = -1 THEN (CASE WHEN dy = 0 THEN 2 ELSE 1 END) * v
             WHEN dx = 1 THEN -(CASE WHEN dy = 0 THEN 2 ELSE 1 END) * v
             ELSE 0 END) AS BIGINT) AS gx_u,
    CAST(SUM(CASE WHEN dy = -1 THEN (CASE WHEN dx = 0 THEN 2 ELSE 1 END) * v
             WHEN dy = 1 THEN -(CASE WHEN dx = 0 THEN 2 ELSE 1 END) * v
             ELSE 0 END) AS BIGINT) AS gy_u
  FROM sent GROUP BY tx, ty
),
sh AS (
  SELECT tx, ty, {shade} AS shade FROM (
    SELECT tx, ty, gx_u / {cs8} AS gx, gy_u / {cs8} AS gy
    FROM g WHERE n9 = 9
  )
)
SELECT CAST(FLOOR(tx / 25) AS BIGINT) AS bx,
       CAST(FLOOR(ty / 25) AS BIGINT) AS by,
       CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(shade) AS BIGINT) AS shade_sum
FROM sh GROUP BY 1, 2
"""


# Bilinear resample (RasterResampleOperation.java:42, ResampleType.BILINEAR):
# output lattice at 2x coarser resolution; each output center interpolates
# the 4 surrounding input pixel centers with closed-form fractional weights.
# Output values scaled x16 stay exact integers (weights are k/16).


def raster_resample_bilinear(spark: SparkSession) -> DataFrame:
    """Resample the 500x500 value raster to 250x250 via bilinear weights.
    Output (ox, oy, v16) with v16 = 16 * interpolated value (exact int)."""
    # output center (ox*4+2, oy*4+2); input centers (ix*2+1, iy*2+1).
    # fractional position u = (oxc - ixc0)/2 in {1/2}, actually the 2x
    # lattice puts every output center exactly mid-way: weights 1/4 each
    # would lose generality — use a 3/4:1/4 split by sampling at
    # (ox*4+1.5, oy*4+1.5): u = ((ox*4+1.5) - (ix0*2+1))/2.
    out = planner.ensure_parallelism(
        spark.range(250 * 250).selectExpr(
            "id AS oid",
            "CAST(id % 250 AS BIGINT) AS ox",
            "CAST(FLOOR(id / 250) AS BIGINT) AS oy",
        )
    )
    # input base index: ix0 = floor((sx - 1) / 2) with sx = ox*4 + 1.5
    out = out.selectExpr(
        "oid", "ox", "oy",
        "CAST(FLOOR((ox * 4 + 1.5 - 1.0) / 2.0) AS BIGINT) AS ix0",
        "CAST(FLOOR((oy * 4 + 1.5 - 1.0) / 2.0) AS BIGINT) AS iy0",
    ).selectExpr(
        "oid", "ox", "oy", "ix0", "iy0",
        # 4*u in {1,3}: integer weights w_u = 4 - 4u for low, 4u for high
        "CAST(4.0 * ((ox * 4 + 1.5 - (ix0 * 2 + 1)) / 2.0) AS BIGINT) AS ux4",
        "CAST(4.0 * ((oy * 4 + 1.5 - (iy0 * 2 + 1)) / 2.0) AS BIGINT) AS uy4",
    )
    corners = out.withColumn(
        "cx", F.expr("explode(sequence(0, 1))")
    ).withColumn("cy", F.expr("explode(sequence(0, 1))"))
    corners = corners.selectExpr(
        "oid", "ox", "oy",
        "ix0 + cx AS ix", "iy0 + cy AS iy",
        "(CASE WHEN cx = 0 THEN 4 - ux4 ELSE ux4 END) "
        "* (CASE WHEN cy = 0 THEN 4 - uy4 ELSE uy4 END) AS w16",
    )
    pixels = spark.sql(ZONAL_PIXELS_SQL_SPARK).select("ix", "iy", "v")
    return (
        corners.join(pixels, on=["ix", "iy"], how="inner")
        .groupBy("ox", "oy")
        .agg(F.sum(F.expr("w16 * v")).cast("long").alias("v16"))
    )


def raster_resample_oracle() -> str:
    return f"""
WITH pix AS ({ZONAL_PIXELS_SQL_DUCK}),
outg AS (
  SELECT uid AS oid, CAST(uid % 250 AS BIGINT) AS ox,
         CAST(FLOOR(uid / 250) AS BIGINT) AS oy
  FROM (SELECT generate_series AS uid FROM generate_series(0, 62499))
),
base AS (
  SELECT oid, ox, oy,
         CAST(FLOOR((ox * 4 + 1.5 - 1.0) / 2.0) AS BIGINT) AS ix0,
         CAST(FLOOR((oy * 4 + 1.5 - 1.0) / 2.0) AS BIGINT) AS iy0
  FROM outg
),
wts AS (
  SELECT oid, ox, oy, ix0, iy0,
         CAST(4.0 * ((ox * 4 + 1.5 - (ix0 * 2 + 1)) / 2.0) AS BIGINT) AS ux4,
         CAST(4.0 * ((oy * 4 + 1.5 - (iy0 * 2 + 1)) / 2.0) AS BIGINT) AS uy4
  FROM base
),
corners AS (
  SELECT oid, ox, oy, ix0 + gcx.generate_series AS ix,
         iy0 + gcy.generate_series AS iy,
         (CASE WHEN gcx.generate_series = 0 THEN 4 - ux4 ELSE ux4 END)
         * (CASE WHEN gcy.generate_series = 0 THEN 4 - uy4 ELSE uy4 END)
           AS w16
  FROM wts, generate_series(0, 1) gcx, generate_series(0, 1) gcy
)
SELECT c.ox AS ox, c.oy AS oy, CAST(SUM(c.w16 * p.v) AS BIGINT) AS v16
FROM corners c JOIN pix p ON c.ix = p.ix AND c.iy = p.iy
GROUP BY c.ox, c.oy
"""


# Bicubic resample (RasterResampleOperation.java:42, ResampleType.BICUBIC,
# GT/enumeration/ResampleType.java:26-43): Keys cubic-convolution kernel
# with a = -0.5 (the public standard). The 2x lattice puts every output
# center 1/4 pixel past the center of input pixel 2*o on both axes, so
# every output has the same fractional offset u = 1/4, where the Keys taps
# have EXACT rational weights with denominator 128:
#   u=1/4 -> (-9, 111, 29, -3)/128
# so the 16-tap 2D sum scaled by 128^2 = 16384 is exact BIGINT arithmetic
# — fully hash-gated, same trick as the x16 bilinear above. Output lattice
# restricted to centers whose full 4x4 tap window exists (inner-lattice
# contract; edge policy is a parameter at production scale).
_BICUBIC_W = {1: (-9, 111, 29, -3)}  # 4u -> x128 tap weights


def _bicubic_w_sql(cvar: str, uvar: str) -> str:
    """x128 weight of tap ``cvar`` at phase ``uvar`` (= 4u). Exhaustive: a
    phase or tap outside the table is NULL, so an output the lattice was
    not built for sums to NULL instead of borrowing another phase's
    weights."""
    phases = " ".join(
        f"WHEN {uvar} = {u4} THEN (CASE "
        + " ".join(f"WHEN {cvar} = {i} THEN {w}" for i, w in enumerate(ws))
        + " ELSE NULL END)"
        for u4, ws in _BICUBIC_W.items()
    )
    return f"(CASE {phases} ELSE NULL END)"


def raster_resample_bicubic(spark: SparkSession) -> DataFrame:
    """Resample the 500x500 value raster to 250x250 via Keys bicubic
    (a=-0.5). Output (ox, oy, v16384) with v16384 = 16384 * interpolated
    value (exact int); only outputs with a full 4x4 tap window emit."""
    out = planner.ensure_parallelism(
        spark.range(250 * 250).selectExpr(
            "id AS oid",
            "CAST(id % 250 AS BIGINT) AS ox",
            "CAST(FLOOR(id / 250) AS BIGINT) AS oy",
        )
    )
    out = out.selectExpr(
        "oid", "ox", "oy",
        "CAST(FLOOR((ox * 4 + 1.5 - 1.0) / 2.0) AS BIGINT) AS ix0",
        "CAST(FLOOR((oy * 4 + 1.5 - 1.0) / 2.0) AS BIGINT) AS iy0",
    ).selectExpr(
        "oid", "ox", "oy", "ix0", "iy0",
        "CAST(4.0 * ((ox * 4 + 1.5 - (ix0 * 2 + 1)) / 2.0) AS BIGINT) AS ux4",
        "CAST(4.0 * ((oy * 4 + 1.5 - (iy0 * 2 + 1)) / 2.0) AS BIGINT) AS uy4",
    )
    taps = out.withColumn(
        "cx", F.expr("explode(sequence(0, 3))")
    ).withColumn("cy", F.expr("explode(sequence(0, 3))"))
    taps = taps.selectExpr(
        "oid", "ox", "oy",
        "ix0 - 1 + cx AS ix", "iy0 - 1 + cy AS iy",
        f"{_bicubic_w_sql('cx', 'ux4')} * {_bicubic_w_sql('cy', 'uy4')} "
        "AS w16384",
    )
    pixels = spark.sql(ZONAL_PIXELS_SQL_SPARK).select("ix", "iy", "v")
    return (
        taps.join(pixels, on=["ix", "iy"], how="inner")
        .groupBy("ox", "oy")
        .agg(
            F.sum(F.expr("w16384 * v")).cast("long").alias("v16384"),
            F.count(F.lit(1)).alias("_nt"),
        )
        .where("_nt = 16")
        .drop("_nt")
    )


def raster_resample_bicubic_oracle() -> str:
    wx = _bicubic_w_sql("gcx.generate_series", "ux4")
    wy = _bicubic_w_sql("gcy.generate_series", "uy4")
    return f"""
WITH pix AS ({ZONAL_PIXELS_SQL_DUCK}),
outg AS (
  SELECT uid AS oid, CAST(uid % 250 AS BIGINT) AS ox,
         CAST(FLOOR(uid / 250) AS BIGINT) AS oy
  FROM (SELECT generate_series AS uid FROM generate_series(0, 62499))
),
base AS (
  SELECT oid, ox, oy,
         CAST(FLOOR((ox * 4 + 1.5 - 1.0) / 2.0) AS BIGINT) AS ix0,
         CAST(FLOOR((oy * 4 + 1.5 - 1.0) / 2.0) AS BIGINT) AS iy0
  FROM outg
),
wts AS (
  SELECT oid, ox, oy, ix0, iy0,
         CAST(4.0 * ((ox * 4 + 1.5 - (ix0 * 2 + 1)) / 2.0) AS BIGINT) AS ux4,
         CAST(4.0 * ((oy * 4 + 1.5 - (iy0 * 2 + 1)) / 2.0) AS BIGINT) AS uy4
  FROM base
),
taps AS (
  SELECT oid, ox, oy, ix0 - 1 + gcx.generate_series AS ix,
         iy0 - 1 + gcy.generate_series AS iy,
         {wx} * {wy} AS w16384
  FROM wts, generate_series(0, 3) gcx, generate_series(0, 3) gcy
)
SELECT ox, oy, v16384 FROM (
  SELECT t.ox AS ox, t.oy AS oy,
         CAST(SUM(t.w16384 * p.v) AS BIGINT) AS v16384,
         COUNT(*) AS nt
  FROM taps t JOIN pix p ON t.ix = p.ix AND t.iy = p.iy
  GROUP BY t.ox, t.oy
) WHERE nt = 16
"""


# Cut-fill (AbstractRasterCutFillOperation.java:51): volume difference
# between two surfaces; second surface synthesized from the pixel id.
_SURF2 = "((ix * 104729 + iy * 7919) % 1000)"


def raster_cutfill(spark: SparkSession) -> DataFrame:
    """Per 25x25 block: cut (v > v2) and fill (v2 > v) exact volumes."""
    pixels = planner.ensure_parallelism(spark.sql(ZONAL_PIXELS_SQL_SPARK))
    df = pixels.selectExpr("ix", "iy", "v", f"{_SURF2} AS v2")
    return (
        df.groupBy(
            F.expr("CAST(FLOOR(ix / 25) AS BIGINT)").alias("bx"),
            F.expr("CAST(FLOOR(iy / 25) AS BIGINT)").alias("by"),
        )
        .agg(
            F.sum(F.expr("CASE WHEN v > v2 THEN v - v2 ELSE 0 END"))
            .cast("long").alias("cut"),
            F.sum(F.expr("CASE WHEN v2 > v THEN v2 - v ELSE 0 END"))
            .cast("long").alias("fill"),
        )
    )


def raster_cutfill_oracle() -> str:
    return f"""
WITH pix AS ({ZONAL_PIXELS_SQL_DUCK})
SELECT CAST(FLOOR(ix / 25) AS BIGINT) AS bx,
       CAST(FLOOR(iy / 25) AS BIGINT) AS by,
       CAST(SUM(CASE WHEN v > {_SURF2} THEN v - {_SURF2} ELSE 0 END)
            AS BIGINT) AS cut,
       CAST(SUM(CASE WHEN {_SURF2} > v THEN {_SURF2} - v ELSE 0 END)
            AS BIGINT) AS fill
FROM pix GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Image near-duplicate detection via phash Hamming LSH
# ---------------------------------------------------------------------------


def phash_neardup(
    spark: SparkSession,
    sf_dir: str,
    max_hamming: int = 3,
    carry: dict[str, str] | None = None,
) -> DataFrame:
    """Image near-dup pairs: Hamming(phash_a, phash_b) <= max_hamming.

    EXACT for max_hamming <= 3 by pigeonhole: the 64-bit hash splits into
    4 16-bit chunks; any pair within Hamming 3 agrees on at least one chunk,
    so the candidate set (equi-join on (chunk_index, chunk_value)) covers
    every true pair. Plan: explode 4 chunk rows per image (narrow), shuffle
    equi-join on the chunk key, exact bit_count(xor) refine, and the
    multi-chunk duplicates collapse via min-chunk ownership (emit the match
    only at the FIRST agreeing chunk index — no distinct shuffle). This is
    the image-modality analogue of MinHash-LSH text dedup at 10^12 scale:
    one narrow explode + one equi-join, both linear.
    Output (okey_a, okey_b, hamming) [+ carried columns].

    ``carry``: {name: sql_expr over IMAGES_META columns} — extra per-image
    attributes propagated THROUGH the pair join as ``{name}_a``/``{name}_b``
    (e.g. the train/val/test split for a leakage audit). Riding the
    existing chunk shuffle costs a few bytes per row; joining the
    attribute back onto the pairs afterwards would cost two more shuffles
    of the full meta table.
    """
    world.register_tables(spark, sf_dir)
    carry = carry or {}
    meta = spark.sql(IMAGES_META_SQL).selectExpr(
        "okey", "phash", *(f"{sql} AS {nm}" for nm, sql in carry.items())
    )
    meta = planner.ensure_parallelism(meta)
    chunks = meta.withColumn(
        "ci", F.expr("explode(sequence(0, 3))")
    ).selectExpr(
        "okey", "phash", "ci",
        "SHIFTRIGHT(phash, ci * 16) & 65535 AS chunk",
        *carry,
    )

    def side(tag: str) -> DataFrame:
        return chunks.selectExpr(
            f"okey AS okey_{tag}", f"phash AS ph_{tag}", "ci", "chunk",
            *(f"{nm} AS {nm}_{tag}" for nm in carry),
        )

    a, b = side("a"), side("b")
    cand = a.join(b, on=["ci", "chunk"], how="inner").where(
        F.col("okey_a") < F.col("okey_b")
    )
    ham = F.expr("bit_count(ph_a ^ ph_b)")
    hit = cand.withColumn("hamming", ham).where(
        F.col("hamming") <= F.lit(int(max_hamming))
    )
    # ownership: emit only at the smallest agreeing chunk index
    first_ci = F.expr(
        "CASE WHEN (SHIFTRIGHT(ph_a, 0) & 65535) = (SHIFTRIGHT(ph_b, 0) & 65535) THEN 0 "
        "WHEN (SHIFTRIGHT(ph_a, 16) & 65535) = (SHIFTRIGHT(ph_b, 16) & 65535) THEN 1 "
        "WHEN (SHIFTRIGHT(ph_a, 32) & 65535) = (SHIFTRIGHT(ph_b, 32) & 65535) THEN 2 "
        "ELSE 3 END"
    )
    return hit.where(F.col("ci") == first_ci).select(
        "okey_a", "okey_b", F.col("hamming").cast("long").alias("hamming"),
        *(f"{nm}_{t}" for nm in carry for t in ("a", "b")),
    )


def phash_neardup_oracle(max_hamming: int = 3) -> str:
    return f"""
WITH meta AS ({IMAGES_META_SQL_DUCK}),
ph AS (SELECT okey, phash FROM meta),
chunks AS (
  SELECT okey, phash, g.generate_series AS ci,
         (phash >> (g.generate_series * 16)) & 65535 AS chunk
  FROM ph, generate_series(0, 3) g
),
cand AS (
  SELECT a.okey AS okey_a, b.okey AS okey_b, a.phash AS ph_a,
         b.phash AS ph_b, a.ci AS ci
  FROM chunks a JOIN chunks b
    ON a.ci = b.ci AND a.chunk = b.chunk AND a.okey < b.okey
),
hit AS (
  SELECT *, bit_count(xor(ph_a, ph_b)) AS hamming FROM cand
  WHERE bit_count(xor(ph_a, ph_b)) <= {int(max_hamming)}
)
SELECT okey_a, okey_b, CAST(hamming AS BIGINT) AS hamming FROM hit
WHERE ci = (CASE
  WHEN ((ph_a >> 0) & 65535) = ((ph_b >> 0) & 65535) THEN 0
  WHEN ((ph_a >> 16) & 65535) = ((ph_b >> 16) & 65535) THEN 1
  WHEN ((ph_a >> 32) & 65535) = ((ph_b >> 32) & 65535) THEN 2
  ELSE 3 END)
"""


# ---------------------------------------------------------------------------
# Focal surface completeness: aspect, curvature, TPI/TRI/roughness, D8 flow
# (RasterAspectOperation.java:44, RasterCurvatureOperation.java:42,
# RasterTPIOperation/RasterTRIOperation/RasterRoughnessOperation,
# RasterFlowDirectionOperation.java:38) — all on the halo-exchange stencil
# of _horn_gradients: each pixel sends itself to its 9 targets, one
# groupBy(target) reassembles the window; the center value rides an equi-
# join on the pixel key (co-partitioned, no extra shuffle class at scale).
# ---------------------------------------------------------------------------


def _stencil_with_center(spark: SparkSession):
    pixels = planner.ensure_parallelism(spark.sql(ZONAL_PIXELS_SQL_SPARK))
    sent = pixels.selectExpr("ix", "iy", "v").withColumn(
        "dx", F.expr("explode(sequence(-1, 1))")
    ).withColumn("dy", F.expr("explode(sequence(-1, 1))"))
    sent = sent.select(
        (F.col("ix") + F.col("dx")).alias("tx"),
        (F.col("iy") + F.col("dy")).alias("ty"),
        F.col("dx"), F.col("dy"), F.col("v").alias("vs"),
    )
    ctr = pixels.selectExpr("ix AS tx", "iy AS ty", "v AS vc")
    return sent.join(ctr, on=["tx", "ty"], how="inner")


_STENCIL_SQL_DUCK = f"""
pix AS ({ZONAL_PIXELS_SQL_DUCK}),
sent AS (
  SELECT ix + gdx.generate_series AS tx, iy + gdy.generate_series AS ty,
         gdx.generate_series AS dx, gdy.generate_series AS dy, v AS vs
  FROM pix, generate_series(-1, 1) gdx, generate_series(-1, 1) gdy
),
stc AS (
  SELECT s.tx, s.ty, s.dx, s.dy, s.vs, c.v AS vc
  FROM sent s JOIN pix c ON s.tx = c.ix AND s.ty = c.iy
)
"""


def focal_aspect(spark: SparkSession) -> DataFrame:
    """Aspect as an 8-sector class of the steepest-descent direction
    (-gx, -gy) from the Horn gradients — trig-free (the reference emits
    degrees via atan2; sectors are the deterministic cross-engine form,
    45° each anticlockwise from East; flat pixels sector = -1).
    Output per 25x25 block x sector: (bx, by, sector, n)."""
    cs8 = dlit(8.0 * ZPIX_CELL)
    g = _horn_gradients(spark).where(F.col("n9") == 9)
    g = g.withColumn("ax", F.expr(f"-1.0 * gx_u / {cs8}")).withColumn(
        "ay", F.expr(f"-1.0 * gy_u / {cs8}")
    )
    sector = (
        "CASE WHEN ax = 0.0 AND ay = 0.0 THEN -1 "
        "WHEN ay >= 0 AND ax > 0 AND ax >= ay THEN 0 "
        "WHEN ay > 0 AND ax >= 0 AND ay > ax THEN 1 "
        "WHEN ay > 0 AND ax < 0 AND ay >= -ax THEN 2 "
        "WHEN ay >= 0 AND ax < 0 AND -ax > ay THEN 3 "
        "WHEN ay < 0 AND ax <= 0 AND -ax >= -ay THEN 4 "
        "WHEN ay < 0 AND ax <= 0 THEN 5 "
        "WHEN ay < 0 AND ax > 0 AND -ay > ax THEN 6 "
        "ELSE 7 END"
    )
    return (
        g.withColumn("sector", F.expr(sector))
        .groupBy(
            F.expr("CAST(FLOOR(tx / 25) AS BIGINT)").alias("bx"),
            F.expr("CAST(FLOOR(ty / 25) AS BIGINT)").alias("by"),
            F.col("sector").cast("int").alias("sector"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def focal_aspect_oracle() -> str:
    cs8 = dlit(8.0 * ZPIX_CELL)
    sector = (
        "CASE WHEN ax = 0.0 AND ay = 0.0 THEN -1 "
        "WHEN ay >= 0 AND ax > 0 AND ax >= ay THEN 0 "
        "WHEN ay > 0 AND ax >= 0 AND ay > ax THEN 1 "
        "WHEN ay > 0 AND ax < 0 AND ay >= -ax THEN 2 "
        "WHEN ay >= 0 AND ax < 0 AND -ax > ay THEN 3 "
        "WHEN ay < 0 AND ax <= 0 AND -ax >= -ay THEN 4 "
        "WHEN ay < 0 AND ax <= 0 THEN 5 "
        "WHEN ay < 0 AND ax > 0 AND -ay > ax THEN 6 "
        "ELSE 7 END"
    )
    return f"""
WITH pix AS ({ZONAL_PIXELS_SQL_DUCK}),
sent AS (
  SELECT ix + gdx.generate_series AS tx, iy + gdy.generate_series AS ty,
         gdx.generate_series AS dx, gdy.generate_series AS dy, v
  FROM pix, generate_series(-1, 1) gdx, generate_series(-1, 1) gdy
),
g AS (
  SELECT tx, ty, COUNT(*) AS n9,
    CAST(SUM(CASE WHEN dx = -1 THEN (CASE WHEN dy = 0 THEN 2 ELSE 1 END) * v
             WHEN dx = 1 THEN -(CASE WHEN dy = 0 THEN 2 ELSE 1 END) * v
             ELSE 0 END) AS BIGINT) AS gx_u,
    CAST(SUM(CASE WHEN dy = -1 THEN (CASE WHEN dx = 0 THEN 2 ELSE 1 END) * v
             WHEN dy = 1 THEN -(CASE WHEN dx = 0 THEN 2 ELSE 1 END) * v
             ELSE 0 END) AS BIGINT) AS gy_u
  FROM sent GROUP BY tx, ty
),
asp AS (
  SELECT tx, ty, {sector} AS sector FROM (
    SELECT tx, ty, -1.0 * gx_u / {cs8} AS ax, -1.0 * gy_u / {cs8} AS ay
    FROM g WHERE n9 = 9
  )
)
SELECT CAST(FLOOR(tx / 25) AS BIGINT) AS bx,
       CAST(FLOOR(ty / 25) AS BIGINT) AS by,
       CAST(sector AS INT) AS sector, CAST(COUNT(*) AS BIGINT) AS n
FROM asp GROUP BY 1, 2, 3
"""


def focal_tpi_tri(spark: SparkSession) -> DataFrame:
    """TPI (center minus 8-neighbor mean, x8 to stay integer), TRI (sum of
    |center - neighbor|), and roughness (window max - min) per pixel —
    all exact integers; per 25x25 block: sums + counts."""
    stc = _stencil_with_center(spark)
    per = stc.groupBy("tx", "ty").agg(
        F.count(F.lit(1)).alias("n9"),
        F.sum(F.expr("CASE WHEN dx = 0 AND dy = 0 THEN 0 ELSE vs END"))
        .alias("nbr_sum"),
        F.sum(F.expr("CASE WHEN dx = 0 AND dy = 0 THEN 0 ELSE ABS(vc - vs) END"))
        .alias("tri"),
        F.max("vs").alias("wmax"),
        F.min("vs").alias("wmin"),
        F.first("vc").alias("vc"),
    ).where(F.col("n9") == 9)
    per = per.withColumn("tpi8", F.expr("8 * vc - nbr_sum")).withColumn(
        "rough", F.expr("wmax - wmin")
    )
    return per.groupBy(
        F.expr("CAST(FLOOR(tx / 25) AS BIGINT)").alias("bx"),
        F.expr("CAST(FLOOR(ty / 25) AS BIGINT)").alias("by"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("tpi8").cast("long").alias("tpi8_sum"),
        F.sum("tri").cast("long").alias("tri_sum"),
        F.sum("rough").cast("long").alias("rough_sum"),
    )


def focal_tpi_tri_oracle() -> str:
    return f"""
WITH {_STENCIL_SQL_DUCK},
per AS (
  SELECT tx, ty, COUNT(*) AS n9,
         CAST(SUM(CASE WHEN dx = 0 AND dy = 0 THEN 0 ELSE vs END) AS BIGINT)
           AS nbr_sum,
         CAST(SUM(CASE WHEN dx = 0 AND dy = 0 THEN 0 ELSE ABS(vc - vs) END)
              AS BIGINT) AS tri,
         MAX(vs) AS wmax, MIN(vs) AS wmin, MIN(vc) AS vc
  FROM stc GROUP BY tx, ty
)
SELECT CAST(FLOOR(tx / 25) AS BIGINT) AS bx,
       CAST(FLOOR(ty / 25) AS BIGINT) AS by,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(8 * vc - nbr_sum) AS BIGINT) AS tpi8_sum,
       CAST(SUM(tri) AS BIGINT) AS tri_sum,
       CAST(SUM(wmax - wmin) AS BIGINT) AS rough_sum
FROM per WHERE n9 = 9 GROUP BY 1, 2
"""


def focal_curvature(spark: SparkSession) -> DataFrame:
    """Zevenbergen-Thorne curvature -2(D + E) with
    D = ((z_w + z_e)/2 - z_c)/L², E = ((z_s + z_n)/2 - z_c)/L² —
    kept as the exact integer 2*(zw + ze + zn + zs - 4*zc) (the curvature
    numerator x (2 L²); the reference's x100 output scaling is a constant
    factor). Per 25x25 block: (bx, by, n, curv_sum)."""
    stc = _stencil_with_center(spark)
    per = stc.groupBy("tx", "ty").agg(
        F.count(F.lit(1)).alias("n9"),
        F.sum(F.expr(
            "CASE WHEN ABS(dx) + ABS(dy) = 1 THEN vs ELSE 0 END"
        )).alias("cross_sum"),
        F.first("vc").alias("vc"),
    ).where(F.col("n9") == 9)
    per = per.withColumn("curv_u", F.expr("2 * (cross_sum - 4 * vc)"))
    return per.groupBy(
        F.expr("CAST(FLOOR(tx / 25) AS BIGINT)").alias("bx"),
        F.expr("CAST(FLOOR(ty / 25) AS BIGINT)").alias("by"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("curv_u").cast("long").alias("curv_sum"),
    )


def focal_curvature_oracle() -> str:
    return f"""
WITH {_STENCIL_SQL_DUCK},
per AS (
  SELECT tx, ty, COUNT(*) AS n9,
         CAST(SUM(CASE WHEN ABS(dx) + ABS(dy) = 1 THEN vs ELSE 0 END)
              AS BIGINT) AS cross_sum,
         MIN(vc) AS vc
  FROM stc GROUP BY tx, ty
)
SELECT CAST(FLOOR(tx / 25) AS BIGINT) AS bx,
       CAST(FLOOR(ty / 25) AS BIGINT) AS by,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(2 * (cross_sum - 4 * vc)) AS BIGINT) AS curv_sum
FROM per WHERE n9 = 9 GROUP BY 1, 2
"""


# D8 flow codes (ESRI): E=1 SE=2 S=4 SW=8 W=16 NW=32 N=64 NE=128.
# dy grows north here (iy increases upward in the synthetic raster).
_D8_CODE = (
    "CASE WHEN dx = 1 AND dy = 0 THEN 1 WHEN dx = 1 AND dy = -1 THEN 2 "
    "WHEN dx = 0 AND dy = -1 THEN 4 WHEN dx = -1 AND dy = -1 THEN 8 "
    "WHEN dx = -1 AND dy = 0 THEN 16 WHEN dx = -1 AND dy = 1 THEN 32 "
    "WHEN dx = 0 AND dy = 1 THEN 64 ELSE 128 END"
)
_SQRT2 = 1.4142135623730951


def focal_flow_direction(spark: SparkSession) -> DataFrame:
    """D8 flow direction: the neighbor with the steepest drop
    (drop = (z_c - z_n)/dist, diagonal dist = sqrt2); ESRI power-of-two
    codes, ties to the smallest code, flat/pit pixels code 0. Output per
    (block, code): n."""
    stc = _stencil_with_center(spark).where(
        ~((F.col("dx") == 0) & (F.col("dy") == 0))
    )
    drop = (
        f"CAST(vc - vs AS DOUBLE) / "
        f"(CASE WHEN dx <> 0 AND dy <> 0 THEN {dlit(_SQRT2)} ELSE 1.0 END)"
    )
    per = stc.withColumn("drop", F.expr(drop)).withColumn(
        "code", F.expr(_D8_CODE)
    )
    best = per.groupBy("tx", "ty").agg(
        F.count(F.lit(1)).alias("n8"),
        F.max(F.struct(F.col("drop"), (-F.col("code")).alias("negc")))
        .alias("_b"),
    ).where(F.col("n8") == 8)
    best = best.withColumn(
        "code",
        F.expr("CASE WHEN _b.drop <= 0.0 THEN 0 ELSE -_b.negc END"),
    )
    return best.groupBy(
        F.expr("CAST(FLOOR(tx / 25) AS BIGINT)").alias("bx"),
        F.expr("CAST(FLOOR(ty / 25) AS BIGINT)").alias("by"),
        F.col("code").cast("int").alias("code"),
    ).agg(F.count(F.lit(1)).alias("n"))


def focal_flow_direction_oracle() -> str:
    drop = (
        f"CAST(vc - vs AS DOUBLE) / "
        f"(CASE WHEN dx <> 0 AND dy <> 0 THEN {dlit(_SQRT2)} ELSE 1.0 END)"
    )
    return f"""
WITH {_STENCIL_SQL_DUCK},
per AS (
  SELECT tx, ty, {drop} AS drop, {_D8_CODE} AS code
  FROM stc WHERE NOT (dx = 0 AND dy = 0)
),
best AS (
  SELECT tx, ty,
         CASE WHEN drop <= 0.0 THEN 0 ELSE code END AS code
  FROM (
    SELECT tx, ty, code, drop,
           ROW_NUMBER() OVER (PARTITION BY tx, ty
                              ORDER BY drop DESC, code ASC) AS rn,
           COUNT(*) OVER (PARTITION BY tx, ty) AS n8
    FROM per
  ) WHERE rn = 1 AND n8 = 8
)
SELECT CAST(FLOOR(tx / 25) AS BIGINT) AS bx,
       CAST(FLOOR(ty / 25) AS BIGINT) AS by,
       CAST(code AS INT) AS code, CAST(COUNT(*) AS BIGINT) AS n
FROM best GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# Kernel tail (RasterKernelDensityOperation.java:236-274): the remaining 5
# reference kernels. These are not dyadic, so per-contribution values are
# quantized to integers (FLOOR(kval * 1e6)) before summing — the repo's
# cross-engine contract for order-free distributed reductions. The
# triweight/quartic family keeps its exact dyadic fast path.
# ---------------------------------------------------------------------------

KD_QUANT = 1_000_000

KERNELS.update({
    # u and u2 are deterministic IEEE in both engines; EXP/COS may differ by
    # 1 ulp between libm implementations — absorbed by the 1e-6 quantization
    # grid (flip probability ~1e-10 per contribution).
    "gaussian": "EXP(-3.0 * u2)",
    "cosine": "COS(u * 1.5707963267948966)",
    "distance": "1.0 - u",
    "inverse_distance": "1.0 / (1.0 + u)",
    "tricube": "(1.0 - u * u * u) * (1.0 - u * u * u) * (1.0 - u * u * u)",
})

_DYADIC_KERNELS = {"quartic", "epanechnikov", "triweight", "binary", "quadratic"}


def kernel_density_quantized(
    points: DataFrame,
    kernel: str,
    cell: float = KD_CELL,
    rpx: int = KD_RADIUS_PX,
    weight_col: str = "w",
) -> DataFrame:
    """Kernel density for the non-dyadic kernels: per-contribution
    FLOOR(kval * 1e6) integers, exact sums, one final division."""
    from .binning import apply_stages

    n_valid = sum(
        1
        for dx in range(-rpx, rpx + 1)
        for dy in range(-rpx, rpx + 1)
        if dx * dx + dy * dy <= rpx * rpx
    )
    scale_area = n_valid * cell * cell / 1e6

    df = planner.ensure_parallelism(points).select(
        F.expr(f"CAST(FLOOR(x / {dlit(cell)}) AS BIGINT)").alias("pcx"),
        F.expr(f"CAST(FLOOR(y / {dlit(cell)}) AS BIGINT)").alias("pcy"),
        F.col(weight_col).alias("wgt"),
    )
    df = df.withColumn("dx", F.expr(f"explode(sequence({-rpx}, {rpx}))"))
    df = df.withColumn("dy", F.expr(f"explode(sequence({-rpx}, {rpx}))"))
    df = df.where(F.expr(f"dx * dx + dy * dy <= {rpx * rpx}"))
    df = apply_stages(df, _kd_stages(kernel, rpx))
    df = df.withColumn(
        "kval_u", F.expr(f"CAST(FLOOR(kval * {KD_QUANT}.0) AS BIGINT)")
    )
    return (
        df.withColumn("cx", F.col("pcx") + F.col("dx"))
        .withColumn("cy", F.col("pcy") + F.col("dy"))
        .groupBy("cx", "cy")
        .agg(
            F.round(
                F.sum(F.expr("wgt * kval_u"))
                / F.lit(float(KD_QUANT)) / F.lit(scale_area),
                6,
            ).alias("kd")
        )
    )


def kernel_density_quantized_oracle(
    points_base: str,
    kernel: str,
    cell: float = KD_CELL,
    rpx: int = KD_RADIUS_PX,
    weight_col: str = "w",
) -> str:
    from .binning import stages_to_subquery

    n_valid = sum(
        1
        for dx in range(-rpx, rpx + 1)
        for dy in range(-rpx, rpx + 1)
        if dx * dx + dy * dy <= rpx * rpx
    )
    scale_area = n_valid * cell * cell / 1e6
    base = f"""
SELECT CAST(FLOOR(x / {dlit(cell)}) AS BIGINT) AS pcx,
       CAST(FLOOR(y / {dlit(cell)}) AS BIGINT) AS pcy,
       {weight_col} AS wgt, gx.generate_series AS dx, gy.generate_series AS dy
FROM ({points_base}),
     generate_series({-rpx}, {rpx}) gx, generate_series({-rpx}, {rpx}) gy
WHERE gx.generate_series * gx.generate_series
    + gy.generate_series * gy.generate_series <= {rpx * rpx}
"""
    sub = stages_to_subquery(base, _kd_stages(kernel, rpx))
    return f"""
SELECT pcx + dx AS cx, pcy + dy AS cy,
       ROUND(CAST(SUM(wgt * CAST(FLOOR(kval * {KD_QUANT}.0) AS BIGINT))
             AS DOUBLE) / {KD_QUANT}.0 / {dlit(scale_area)}, 6) AS kd
FROM {sub}
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Line density (RasterLineDensityOperation.java:63): per output cell, total
# length of segment portions inside the radius circle around the cell
# center, / circle area. Circle-segment clip is closed-form.
# ---------------------------------------------------------------------------

LD_CELL = 25.0
LD_RADIUS = 30.0

_LD_STAGES = [
    ("sdx", "x2 - x1"),
    ("sdy", "y2 - y1"),
    ("seglen2", "sdx * sdx + sdy * sdy"),
    # projection parameter of the cell center onto the (infinite) line
    ("tc", "CASE WHEN seglen2 > 0.0 THEN "
           "((ccx - x1) * sdx + (ccy - y1) * sdy) / seglen2 ELSE 0.0 END"),
    ("qx", "x1 + tc * sdx"),
    ("qy", "y1 + tc * sdy"),
    ("dd2", "(ccx - qx) * (ccx - qx) + (ccy - qy) * (ccy - qy)"),
    # half-chord of the circle on the line (in t units)
    ("hc", f"CASE WHEN dd2 >= {{r2}} OR seglen2 = 0.0 THEN 0.0 "
           f"ELSE SQRT(({{r2}} - dd2) / seglen2) END"),
    ("t0", "GREATEST(tc - hc, 0.0)"),
    ("t1", "LEAST(tc + hc, 1.0)"),
    ("clip_len", "CASE WHEN t1 > t0 THEN (t1 - t0) * SQRT(seglen2) ELSE 0.0 END"),
]


def _ld_stages(radius: float) -> list[tuple[str, str]]:
    r2 = dlit(float(radius) * float(radius))
    return [(n, s.replace("{r2}", r2)) for n, s in _LD_STAGES]


def line_density(
    segments: DataFrame, cell: float = LD_CELL, radius: float = LD_RADIUS
) -> DataFrame:
    """Per grid cell (center = cell middle): Σ clipped segment length inside
    the radius circle / circle area. Candidates via the radius-expanded
    bbox cell cover; per-contribution lengths quantized (1e6) for exact
    distributed sums. Output (gx, gy, dens) for non-zero cells."""
    from .binning import apply_stages
    from .overlay import _seg_bbox

    cs = float(cell)
    segs = cells.explode_extent_cells(
        cells.expand_extent(
            _seg_bbox(planner.ensure_parallelism(segments)), float(radius)
        ),
        cell_size=cs,
    ).drop("xmin", "xmax", "ymin", "ymax")
    segs = segs.withColumn(
        "ccx", (F.col("cell_x") + F.lit(0.5)) * F.lit(cs)
    ).withColumn("ccy", (F.col("cell_y") + F.lit(0.5)) * F.lit(cs))
    staged = apply_stages(segs, _ld_stages(radius))
    area = dlit(3.141592653589793 * float(radius) * float(radius))
    return (
        staged.withColumn(
            "len_u", F.expr(f"CAST(FLOOR(clip_len * {KD_QUANT}.0) AS BIGINT)")
        )
        .where(F.col("len_u") > 0)
        .groupBy(
            F.col("cell_x").alias("gx"), F.col("cell_y").alias("gy")
        )
        .agg(
            F.round(
                F.sum("len_u") / F.lit(float(KD_QUANT)) / F.expr(area), 6
            ).alias("dens")
        )
    )


def line_density_oracle(
    layer: str, cell: float = LD_CELL, radius: float = LD_RADIUS
) -> str:
    from .binning import stages_to_subquery

    cs = dlit(float(cell))
    r = dlit(float(radius))
    area = dlit(3.141592653589793 * float(radius) * float(radius))
    base = f"""
SELECT l.lid, l.x1, l.y1, l.x2, l.y2, g.gx AS cell_x, g.gy AS cell_y,
       (g.gx + 0.5) * {cs} AS ccx, (g.gy + 0.5) * {cs} AS ccy
FROM (SELECT lid, x1, y1, x2, y2,
             LEAST(x1, x2) AS bxmin, GREATEST(x1, x2) AS bxmax,
             LEAST(y1, y2) AS bymin, GREATEST(y1, y2) AS bymax
      FROM {layer}) l
JOIN (SELECT gxs.generate_series AS gx, gys.generate_series AS gy
      FROM generate_series(-6, 46) gxs, generate_series(-6, 46) gys) g
  ON CAST(FLOOR((l.bxmin - {r}) / {cs}) AS BIGINT) <= g.gx
 AND CAST(FLOOR((l.bxmax + {r}) / {cs}) AS BIGINT) >= g.gx
 AND CAST(FLOOR((l.bymin - {r}) / {cs}) AS BIGINT) <= g.gy
 AND CAST(FLOOR((l.bymax + {r}) / {cs}) AS BIGINT) >= g.gy
"""
    sub = stages_to_subquery(base, _ld_stages(radius))
    return world.with_layers(
        f"""
SELECT cell_x AS gx, cell_y AS gy,
       ROUND(CAST(SUM(len_u) AS DOUBLE) / {KD_QUANT}.0 / {area}, 6) AS dens
FROM (SELECT cell_x, cell_y,
             CAST(FLOOR(clip_len * {KD_QUANT}.0) AS BIGINT) AS len_u
      FROM {sub})
WHERE len_u > 0 GROUP BY 1, 2
""",
        layer,
    )


# ---------------------------------------------------------------------------
# IDW interpolation grid (RasterInterpolationIDWOperation.java:52): per
# output cell center, Σ(v/d²)/Σ(1/d²) over sample points within the radius
# (power = 2, the reference default; radius-bounded per the engine's
# distributed-search contract). Numerator/denominator quantized separately.
# ---------------------------------------------------------------------------

IDW_CELL = 50.0
IDW_RADIUS = 75.0
IDW_QUANT = 1_000_000


def idw_grid(
    points: DataFrame,
    value_col: str = "val",
    cell: float = IDW_CELL,
    radius: float = IDW_RADIUS,
) -> DataFrame:
    """IDW (power 2) surface on a cell-center lattice. A sample exactly on
    a center (d2 = 0) takes over that cell (the reference's exact-hit
    rule). Output (gx, gy, n_samples, idw)."""
    cs = float(cell)
    r = float(radius)
    pts = planner.ensure_parallelism(points).select(
        F.col("x"), F.col("y"),
        F.expr(f"CAST(FLOOR(ABS({value_col}) * 100.0) AS BIGINT)").alias("vq"),
    )
    cand = cells.explode_circle_cells(pts, radius=r, cell_size=cs)
    cand = cand.withColumn(
        "ccx", (F.col("cell_x") + F.lit(0.5)) * F.lit(cs)
    ).withColumn("ccy", (F.col("cell_y") + F.lit(0.5)) * F.lit(cs))
    ncell = int(1000.0 / cs)  # output raster extent = the world bbox
    cand = cand.where(
        (F.col("cell_x") >= 0) & (F.col("cell_x") < ncell)
        & (F.col("cell_y") >= 0) & (F.col("cell_y") < ncell)
    )
    d2 = F.expr("(x - ccx) * (x - ccx) + (y - ccy) * (y - ccy)")
    cand = cand.withColumn("d2", d2).where(F.col("d2") <= F.lit(r * r))
    cand = cand.withColumn(
        "num_u",
        F.expr(f"CASE WHEN d2 = 0.0 THEN 0 ELSE "
               f"CAST(FLOOR(vq / d2 * {IDW_QUANT}.0) AS BIGINT) END"),
    ).withColumn(
        "den_u",
        F.expr(f"CASE WHEN d2 = 0.0 THEN 0 ELSE "
               f"CAST(FLOOR(1.0 / d2 * {IDW_QUANT}.0) AS BIGINT) END"),
    ).withColumn(
        "hit_vq", F.expr("CASE WHEN d2 = 0.0 THEN vq ELSE NULL END")
    )
    return (
        cand.groupBy(F.col("cell_x").alias("gx"), F.col("cell_y").alias("gy"))
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum("num_u").cast("long").alias("numq"),
            F.sum("den_u").cast("long").alias("denq"),
            F.min("hit_vq").alias("hitq"),
        )
        .select(
            "gx", "gy", "n_samples",
            F.round(
                F.expr(
                    "CASE WHEN hitq IS NOT NULL THEN CAST(hitq AS DOUBLE) "
                    "WHEN denq > 0 THEN CAST(numq AS DOUBLE) / denq "
                    "ELSE 0.0 END"
                ),
                6,
            ).alias("idw"),
        )
    )


def idw_grid_oracle(
    layer: str = "points_part",
    value_col: str = "val",
    cell: float = IDW_CELL,
    radius: float = IDW_RADIUS,
) -> str:
    cs = dlit(float(cell))
    r2 = dlit(float(radius) * float(radius))
    ncell = int(1000.0 / float(cell))
    return world.with_layers(
        f"""
WITH pts AS (SELECT x, y, CAST(FLOOR(ABS({value_col}) * 100.0) AS BIGINT) AS vq
             FROM {layer}),
cand AS (
  SELECT g.gx, g.gy, p.vq,
         (p.x - (g.gx + 0.5) * {cs}) * (p.x - (g.gx + 0.5) * {cs})
       + (p.y - (g.gy + 0.5) * {cs}) * (p.y - (g.gy + 0.5) * {cs}) AS d2
  FROM pts p
  JOIN (SELECT gxs.generate_series AS gx, gys.generate_series AS gy
        FROM generate_series(0, {ncell - 1}) gxs,
             generate_series(0, {ncell - 1}) gys) g
    ON (p.x - (g.gx + 0.5) * {cs}) * (p.x - (g.gx + 0.5) * {cs})
     + (p.y - (g.gy + 0.5) * {cs}) * (p.y - (g.gy + 0.5) * {cs}) <= {r2}
),
agg AS (
  SELECT gx, gy, COUNT(*) AS n_samples,
         CAST(SUM(CASE WHEN d2 = 0.0 THEN 0 ELSE
              CAST(FLOOR(vq / d2 * {IDW_QUANT}.0) AS BIGINT) END) AS BIGINT)
           AS numq,
         CAST(SUM(CASE WHEN d2 = 0.0 THEN 0 ELSE
              CAST(FLOOR(1.0 / d2 * {IDW_QUANT}.0) AS BIGINT) END) AS BIGINT)
           AS denq,
         MIN(CASE WHEN d2 = 0.0 THEN vq ELSE NULL END) AS hitq
  FROM cand GROUP BY gx, gy
)
SELECT gx, gy, CAST(n_samples AS BIGINT) AS n_samples,
       ROUND(CASE WHEN hitq IS NOT NULL THEN CAST(hitq AS DOUBLE)
             WHEN denq > 0 THEN CAST(numq AS DOUBLE) / denq
             ELSE 0.0 END, 6) AS idw
FROM agg
""",
        layer,
    )


# ---------------------------------------------------------------------------
# RasterHighLowPoints + the local map-algebra tail (Con / SetNull / Math /
# Fuzzy membership) — RasterHighLowPointsOperation.java:46,
# RasterConOperation / RasterSetNullOperation / RasterMathOperation /
# RasterFuzzyOperation (GT/gridcoverage/*). One scan each, no shuffle
# beyond the final tiny aggregate.
# ---------------------------------------------------------------------------


def raster_highlow(spark: SparkSession) -> DataFrame:
    """Global maximum and minimum pixels of the value raster, deterministic
    (ix, iy) tie-break. Output 2 rows: (which, ix, iy, v)."""
    pixels = planner.ensure_parallelism(spark.sql(ZONAL_PIXELS_SQL_SPARK))
    hi = pixels.agg(
        F.max(F.struct(F.col("v"), (-F.col("ix")).alias("nx"),
                       (-F.col("iy")).alias("ny"))).alias("_b")
    ).selectExpr(
        "'high' AS which", "CAST(-_b.nx AS BIGINT) AS ix",
        "CAST(-_b.ny AS BIGINT) AS iy", "CAST(_b.v AS BIGINT) AS v",
    )
    lo = pixels.agg(
        F.min(F.struct(F.col("v"), F.col("ix"), F.col("iy"))).alias("_b")
    ).selectExpr(
        "'low' AS which", "CAST(_b.ix AS BIGINT) AS ix",
        "CAST(_b.iy AS BIGINT) AS iy", "CAST(_b.v AS BIGINT) AS v",
    )
    return hi.unionByName(lo)


def raster_highlow_oracle() -> str:
    return f"""
WITH pix AS ({ZONAL_PIXELS_SQL_DUCK}),
hi AS (SELECT 'high' AS which, ix, iy, CAST(v AS BIGINT) AS v FROM pix
       ORDER BY v DESC, ix ASC, iy ASC LIMIT 1),
lo AS (SELECT 'low' AS which, ix, iy, CAST(v AS BIGINT) AS v FROM pix
       ORDER BY v ASC, ix ASC, iy ASC LIMIT 1)
SELECT * FROM hi UNION ALL SELECT * FROM lo
"""


# Shared fragment: Con (conditional), SetNull, Math (sqrt transform), Fuzzy
# linear membership (clamped, quantized to 1e6 for exact block sums).
_ALG_CON = "CASE WHEN v > 500 THEN v - 500 ELSE 0 END"
_ALG_NULL = "CASE WHEN v < 50 THEN NULL ELSE v END"
_ALG_MATH_U = "CAST(FLOOR(SQRT(CAST(v AS DOUBLE)) * 1000000.0) AS BIGINT)"
_ALG_FUZZY_U = (
    "CAST(FLOOR(LEAST(GREATEST((CAST(v AS DOUBLE) - 100.0) / 800.0, 0.0), 1.0)"
    " * 1000000.0) AS BIGINT)"
)


def raster_local_algebra(spark: SparkSession) -> DataFrame:
    """One-pass local map algebra: Con, SetNull, Math (sqrt), Fuzzy linear
    membership — per 25x25 block: counts + exact quantized sums."""
    pixels = planner.ensure_parallelism(spark.sql(ZONAL_PIXELS_SQL_SPARK))
    px = pixels.selectExpr(
        "ix", "iy",
        f"{_ALG_CON} AS conv",
        f"{_ALG_NULL} AS nnv",
        f"{_ALG_MATH_U} AS mathu",
        f"{_ALG_FUZZY_U} AS fuzzyu",
    )
    return px.groupBy(
        F.expr("CAST(FLOOR(ix / 25) AS BIGINT)").alias("bx"),
        F.expr("CAST(FLOOR(iy / 25) AS BIGINT)").alias("by"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("conv").cast("long").alias("con_sum"),
        F.count("nnv").alias("n_notnull"),
        F.sum("mathu").cast("long").alias("sqrt_sum_u"),
        F.sum("fuzzyu").cast("long").alias("fuzzy_sum_u"),
    )


def raster_local_algebra_oracle() -> str:
    return f"""
WITH pix AS ({ZONAL_PIXELS_SQL_DUCK}),
px AS (
  SELECT ix, iy, {_ALG_CON} AS conv, {_ALG_NULL} AS nnv,
         {_ALG_MATH_U} AS mathu, {_ALG_FUZZY_U} AS fuzzyu
  FROM pix
)
SELECT CAST(FLOOR(ix / 25) AS BIGINT) AS bx,
       CAST(FLOOR(iy / 25) AS BIGINT) AS by,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(conv) AS BIGINT) AS con_sum,
       CAST(COUNT(nnv) AS BIGINT) AS n_notnull,
       CAST(SUM(mathu) AS BIGINT) AS sqrt_sum_u,
       CAST(SUM(fuzzyu) AS BIGINT) AS fuzzy_sum_u
FROM px GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# RasterToPolygonProcess — zone vectorization (RasterToPolygonOperation
# .java:55, backed by the jaitools vectorizer): contiguous equal-value
# regions become polygons. The distributed form vectorizes by **boundary
# extraction**: a pixel edge lies on a zone outline iff its 4-neighbour
# across that edge is missing (grid border) or belongs to a different
# zone. Per zone we emit the exact polygonal invariants (cell count, area,
# outline length, bbox) rather than assembled rings — ring assembly is a
# per-zone driver-side step the reference does in JAI; the boundary-edge
# table IS the distributed representation (and is what a renderer or a
# downstream dissolve consumes at scale). One equi-join on the shifted
# pixel key — shuffle-partitioned on (ix, iy), linear in pixels.
# ---------------------------------------------------------------------------

_R2P_ZONE = "CAST(FLOOR(CAST(v AS DOUBLE) / 100.0) AS BIGINT)"
_R2P_CELL = 2.0  # world units per pixel (ZONAL_GRID)


def raster_to_polygon(spark: SparkSession) -> DataFrame:
    """Per zone: (zone, n_cells, area, outline_edges, outline_len, bbox)."""
    pixels = planner.ensure_parallelism(
        spark.sql(ZONAL_PIXELS_SQL_SPARK)
    ).selectExpr("ix", "iy", f"{_R2P_ZONE} AS zone")
    dirs = spark.range(4).selectExpr(
        "CAST(CASE WHEN id = 0 THEN 1 WHEN id = 1 THEN -1 ELSE 0 END"
        " AS BIGINT) AS dx",
        "CAST(CASE WHEN id = 2 THEN 1 WHEN id = 3 THEN -1 ELSE 0 END"
        " AS BIGINT) AS dy",
    )
    probe = pixels.crossJoin(F.broadcast(dirs)).selectExpr(
        "ix", "iy", "zone", "ix + dx AS nx", "iy + dy AS ny"
    )
    nb = pixels.selectExpr(
        "ix AS nx", "iy AS ny", "zone AS nzone"
    )
    edges = probe.join(nb, ["nx", "ny"], "left").where(
        "nzone IS NULL OR nzone <> zone"
    )
    e = edges.groupBy("zone").agg(
        F.count(F.lit(1)).alias("outline_edges")
    )
    c = pixels.groupBy("zone").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.min("ix").alias("min_ix"), F.max("ix").alias("max_ix"),
        F.min("iy").alias("min_iy"), F.max("iy").alias("max_iy"),
    )
    return c.join(e, "zone").selectExpr(
        "zone", "n_cells",
        f"ROUND(CAST(n_cells AS DOUBLE) * {dlit(_R2P_CELL * _R2P_CELL)}, 6)"
        " AS area",
        "outline_edges",
        f"ROUND(CAST(outline_edges AS DOUBLE) * {dlit(_R2P_CELL)}, 6)"
        " AS outline_len",
        "min_ix", "max_ix", "min_iy", "max_iy",
    )


def raster_to_polygon_oracle() -> str:
    return f"""
WITH pix AS ({ZONAL_PIXELS_SQL_DUCK}),
pz AS (SELECT ix, iy, {_R2P_ZONE} AS zone FROM pix),
dirs AS (
  SELECT CAST(CASE WHEN id = 0 THEN 1 WHEN id = 1 THEN -1 ELSE 0 END
         AS BIGINT) AS dx,
         CAST(CASE WHEN id = 2 THEN 1 WHEN id = 3 THEN -1 ELSE 0 END
         AS BIGINT) AS dy
  FROM (SELECT UNNEST(generate_series(0, 3)) AS id)
),
edges AS (
  SELECT p.zone
  FROM pz p CROSS JOIN dirs d
  LEFT JOIN pz n ON n.ix = p.ix + d.dx AND n.iy = p.iy + d.dy
  WHERE n.zone IS NULL OR n.zone <> p.zone
),
e AS (SELECT zone, CAST(COUNT(*) AS BIGINT) AS outline_edges
      FROM edges GROUP BY zone),
c AS (SELECT zone, CAST(COUNT(*) AS BIGINT) AS n_cells,
             MIN(ix) AS min_ix, MAX(ix) AS max_ix,
             MIN(iy) AS min_iy, MAX(iy) AS max_iy
      FROM pz GROUP BY zone)
SELECT c.zone, c.n_cells,
       ROUND(CAST(c.n_cells AS DOUBLE) * {dlit(_R2P_CELL * _R2P_CELL)}, 6)
         AS area,
       e.outline_edges,
       ROUND(CAST(e.outline_edges AS DOUBLE) * {dlit(_R2P_CELL)}, 6)
         AS outline_len,
       c.min_ix, c.max_ix, c.min_iy, c.max_iy
FROM c JOIN e ON e.zone = c.zone
"""


# ---------------------------------------------------------------------------
# RasterSurfaceAreaProcess — slope-corrected 3D surface area
# (GT/gridcoverage/RasterSurfaceAreaOperation.java: per-cell 3D area =
# planar cellArea / cos(slope)). With Horn gradients gx, gy the correction
# is cellArea * sqrt(1 + gx^2 + gy^2) — trig-free closed form. Per-pixel
# areas are quantized to integer milli-units BEFORE summation so the
# cross-engine totals are order-free exact integers (the repo's
# dist_sum_u convention).
# ---------------------------------------------------------------------------

_SA_EXPR = (
    "CAST(FLOOR({ca} * SQRT(1.0 + gx * gx + gy * gy) * 1000.0) AS BIGINT)"
)


def raster_surface_area(spark: SparkSession) -> DataFrame:
    """Per 25x25 block: (bx, by, n, planar_area, surf_area_mu) with
    surf_area_mu an exact integer milli-unit sum."""
    cs8 = dlit(8.0 * ZPIX_CELL)
    ca = dlit(ZPIX_CELL * ZPIX_CELL)
    g = _horn_gradients(spark).where(F.col("n9") == 9)
    g = g.withColumn("gx", F.expr(f"gx_u / {cs8}")).withColumn(
        "gy", F.expr(f"gy_u / {cs8}")
    )
    g = g.withColumn("sa_mu", F.expr(_SA_EXPR.format(ca=ca)))
    return (
        g.groupBy(
            F.expr("CAST(FLOOR(tx / 25) AS BIGINT)").alias("bx"),
            F.expr("CAST(FLOOR(ty / 25) AS BIGINT)").alias("by"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(f"ROUND(COUNT(1) * {ca}, 6)").alias("planar_area"),
            F.sum("sa_mu").cast("long").alias("surf_area_mu"),
        )
    )


def raster_surface_area_oracle() -> str:
    cs8 = dlit(8.0 * ZPIX_CELL)
    ca = dlit(ZPIX_CELL * ZPIX_CELL)
    sa = _SA_EXPR.format(ca=ca)
    return f"""
WITH pix AS ({ZONAL_PIXELS_SQL_DUCK}),
sent AS (
  SELECT p.ix + d.dx AS tx, p.iy + d.dy AS ty, d.dx, d.dy, p.v
  FROM pix p, (SELECT a.a AS dx, b.b AS dy
               FROM (SELECT UNNEST([-1, 0, 1]) AS a) a,
                    (SELECT UNNEST([-1, 0, 1]) AS b) b) d
),
grad AS (
  SELECT tx, ty, COUNT(*) AS n9,
         SUM(CASE WHEN dx = -1 THEN (CASE WHEN dy = 0 THEN 2 ELSE 1 END) * v
                  WHEN dx = 1 THEN -(CASE WHEN dy = 0 THEN 2 ELSE 1 END) * v
                  ELSE 0 END) AS gx_u,
         SUM(CASE WHEN dy = -1 THEN (CASE WHEN dx = 0 THEN 2 ELSE 1 END) * v
                  WHEN dy = 1 THEN -(CASE WHEN dx = 0 THEN 2 ELSE 1 END) * v
                  ELSE 0 END) AS gy_u
  FROM sent GROUP BY tx, ty
),
g AS (
  SELECT tx, ty, gx_u / {cs8} AS gx, gy_u / {cs8} AS gy
  FROM grad WHERE n9 = 9
)
SELECT CAST(FLOOR(tx / 25) AS BIGINT) AS bx,
       CAST(FLOOR(ty / 25) AS BIGINT) AS by,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(COUNT(*) * {ca}, 6) AS planar_area,
       CAST(SUM({sa}) AS BIGINT) AS surf_area_mu
FROM g GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# RasterRadialLOSProcess — radial line-of-sight
# (GT/gridcoverage/RasterRadialLOSOperation.java:55: rays from an observer,
# a sample is visible iff its elevation angle exceeds every previous
# sample's). Distributed form: explode (observer x ray x station), join
# station pixels, then a running-max window per (observer, ray) ordered by
# station index — tangent comparison avoids atan entirely. 8 integer ray
# directions (N, NE, ..., diagonal steps are sqrt(2) longer — documented
# narrowing vs the reference's equal-angle rays; the visibility recurrence
# is identical).
# ---------------------------------------------------------------------------

_LOS_STATIONS = 40
_LOS_OBS_H = 10.0  # observer height above terrain (reference default-ish)


def radial_los(spark: SparkSession, observers: DataFrame) -> DataFrame:
    """Per (oid, ray): n_stations, n_visible, last visible station index.

    ``observers``: (oid, x, y) points. Stations step one pixel per index
    along each of 8 integer directions.
    """
    from pyspark.sql import Window

    cell = dlit(ZPIX_CELL)
    obs = planner.ensure_parallelism(observers).selectExpr(
        "oid",
        f"CAST(FLOOR(x / {cell}) AS BIGINT) AS ox",
        f"CAST(FLOOR(y / {cell}) AS BIGINT) AS oy",
    )
    rays = spark.range(8).selectExpr(
        "id AS ray",
        "CAST(CASE WHEN id IN (1, 2, 3) THEN 1 "
        "WHEN id IN (5, 6, 7) THEN -1 ELSE 0 END AS BIGINT) AS dx",
        "CAST(CASE WHEN id IN (7, 0, 1) THEN 1 "
        "WHEN id IN (3, 4, 5) THEN -1 ELSE 0 END AS BIGINT) AS dy",
    )
    st = (
        obs.crossJoin(F.broadcast(rays))
        .withColumn(
            "s", F.expr(f"explode(sequence(1, {_LOS_STATIONS}))")
        )
        .selectExpr("oid", "ray", "s", "ox", "oy",
                    "ox + s * dx AS ix", "oy + s * dy AS iy")
    )
    pixels = spark.sql(ZONAL_PIXELS_SQL_SPARK).select("ix", "iy", "v")
    opix = pixels.selectExpr("ix AS ox", "iy AS oy", "v AS ov")
    st = st.join(pixels, ["ix", "iy"]).join(opix, ["ox", "oy"])
    # tangent of the elevation angle; integer elevations, exact rational
    tan = f"(CAST(v AS DOUBLE) - (CAST(ov AS DOUBLE) + {dlit(_LOS_OBS_H)})) / CAST(s AS DOUBLE)"
    st = st.withColumn("tan", F.expr(tan))
    w = (
        Window.partitionBy("oid", "ray")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    vis = st.withColumn(
        "visible",
        F.when(F.max("tan").over(w).isNull(), F.lit(True)).otherwise(
            F.col("tan") > F.max("tan").over(w)
        ),
    )
    return vis.groupBy("oid", "ray").agg(
        F.count(F.lit(1)).alias("n_stations"),
        F.sum(F.expr("CASE WHEN visible THEN 1 ELSE 0 END"))
        .cast("long").alias("n_visible"),
        F.max(F.expr("CASE WHEN visible THEN s ELSE 0 END"))
        .cast("long").alias("last_visible"),
    )


def radial_los_oracle(obs_sql: str) -> str:
    """``obs_sql``: subquery producing (oid, x, y)."""
    cell = dlit(ZPIX_CELL)
    tan = (f"(CAST(v AS DOUBLE) - (CAST(ov AS DOUBLE) + {dlit(_LOS_OBS_H)}))"
           " / CAST(s AS DOUBLE)")
    return f"""
WITH pix AS ({ZONAL_PIXELS_SQL_DUCK}),
obs AS (
  SELECT oid, CAST(FLOOR(x / {cell}) AS BIGINT) AS ox,
         CAST(FLOOR(y / {cell}) AS BIGINT) AS oy
  FROM ({obs_sql})
),
rays AS (
  SELECT id AS ray,
         CAST(CASE WHEN id IN (1, 2, 3) THEN 1
              WHEN id IN (5, 6, 7) THEN -1 ELSE 0 END AS BIGINT) AS dx,
         CAST(CASE WHEN id IN (7, 0, 1) THEN 1
              WHEN id IN (3, 4, 5) THEN -1 ELSE 0 END AS BIGINT) AS dy
  FROM (SELECT UNNEST(generate_series(0, 7)) AS id)
),
st AS (
  SELECT o.oid, r.ray, u.s, o.ox, o.oy,
         o.ox + u.s * r.dx AS ix, o.oy + u.s * r.dy AS iy
  FROM obs o CROSS JOIN rays r,
       LATERAL UNNEST(generate_series(1, {_LOS_STATIONS})) AS u(s)
),
joined AS (
  SELECT st.oid, st.ray, st.s, p.v, po.v AS ov
  FROM st
  JOIN pix p ON p.ix = st.ix AND p.iy = st.iy
  JOIN pix po ON po.ix = st.ox AND po.iy = st.oy
),
tans AS (
  SELECT oid, ray, s, {tan} AS tan FROM joined
),
vis AS (
  SELECT oid, ray, s, tan,
         CASE WHEN MAX(tan) OVER (PARTITION BY oid, ray ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              THEN TRUE
              ELSE tan > MAX(tan) OVER (PARTITION BY oid, ray ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         END AS visible
  FROM tans
)
SELECT oid, ray, CAST(COUNT(*) AS BIGINT) AS n_stations,
       CAST(SUM(CASE WHEN visible THEN 1 ELSE 0 END) AS BIGINT) AS n_visible,
       CAST(MAX(CASE WHEN visible THEN s ELSE 0 END) AS BIGINT)
         AS last_visible
FROM vis GROUP BY oid, ray
"""


def raster_describe(spark: SparkSession) -> DataFrame:
    """RasterDescribeProcess (GT/RasterDescribeProcess.java: extent, cell
    size, bands, min/max/mean/sd statistics): one-row description of the
    synthetic value raster. Mean/sd come from exact integer sums (v is
    integer-valued), so the description is order-free cross-engine."""
    cell = dlit(ZPIX_CELL)
    pix = planner.ensure_parallelism(spark.sql(ZONAL_PIXELS_SQL_SPARK))
    agg = pix.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.min("ix").alias("min_ix"), F.max("ix").alias("max_ix"),
        F.min("iy").alias("min_iy"), F.max("iy").alias("max_iy"),
        F.min("v").cast("long").alias("min_v"),
        F.max("v").cast("long").alias("max_v"),
        F.sum("v").cast("long").alias("sum_v"),
        F.sum(F.expr("v * v")).cast("long").alias("sum_v2"),
    )
    return agg.selectExpr(
        "n_cells",
        f"ROUND((CAST(max_ix AS DOUBLE) - min_ix + 1.0) * {cell}, 6)"
        " AS width",
        f"ROUND((CAST(max_iy AS DOUBLE) - min_iy + 1.0) * {cell}, 6)"
        " AS height",
        f"{cell} AS cell_size",
        "min_v", "max_v",
        "ROUND(CAST(sum_v AS DOUBLE) / n_cells, 6) AS mean_v",
        "ROUND(SQRT(CAST(sum_v2 AS DOUBLE) / n_cells "
        "- (CAST(sum_v AS DOUBLE) / n_cells) "
        "* (CAST(sum_v AS DOUBLE) / n_cells)), 6) AS sd_v",
    )


def raster_describe_oracle() -> str:
    cell = dlit(ZPIX_CELL)
    return f"""
WITH pix AS ({ZONAL_PIXELS_SQL_DUCK}),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
         MIN(ix) AS min_ix, MAX(ix) AS max_ix,
         MIN(iy) AS min_iy, MAX(iy) AS max_iy,
         CAST(MIN(v) AS BIGINT) AS min_v, CAST(MAX(v) AS BIGINT) AS max_v,
         CAST(SUM(v) AS BIGINT) AS sum_v,
         CAST(SUM(v * v) AS BIGINT) AS sum_v2
  FROM pix
)
SELECT n_cells,
       ROUND((CAST(max_ix AS DOUBLE) - min_ix + 1.0) * {cell}, 6) AS width,
       ROUND((CAST(max_iy AS DOUBLE) - min_iy + 1.0) * {cell}, 6) AS height,
       {cell} AS cell_size,
       min_v, max_v,
       ROUND(CAST(sum_v AS DOUBLE) / n_cells, 6) AS mean_v,
       ROUND(SQRT(CAST(sum_v2 AS DOUBLE) / n_cells
       - (CAST(sum_v AS DOUBLE) / n_cells)
       * (CAST(sum_v AS DOUBLE) / n_cells)), 6) AS sd_v
FROM agg
"""
