"""Image pipeline invariants (BASELINE.json): decoded-pixel fidelity
(PSNR >= 40 dB; exact for raw rgb8), caption equality per row through the
pipeline, and luminance conservation through tile rasterization."""

from __future__ import annotations

import math

import numpy as np
import pytest

from opengxt_spark import raster


def test_decode_roundtrip_psnr(spark, sf_dir):
    rows = raster.images_table(spark, sf_dir).limit(20).collect()
    assert rows
    for r in rows:
        decoded = raster.decode_image(bytes(r.bytes), r.w, r.h, r.fmt)
        expected = raster.gen_pixels(r.okey, r.w, r.h)
        assert decoded.shape == (r.h, r.w, 3)
        p = raster.psnr(decoded, expected)
        assert p == math.inf  # raw codec: bit-exact, trivially >= 40 dB
        assert np.array_equal(decoded, expected)


def test_caption_equality_through_pipeline(spark, sf_dir):
    """Caption must survive the footprint->tile explode row-for-row."""
    meta = raster.images_meta(spark, sf_dir)
    src = {r.image_id: r.caption for r in meta.collect()}
    tiles = raster.footprint_tiles(meta).collect()
    assert tiles
    for t in tiles:
        assert t.caption == src[t.image_id]
        okey = int(t.image_id.split("_")[1])
        assert t.caption.endswith(str(okey))


def test_lossy_decode_psnr_contract(spark, sf_dir):
    """The BASELINE per-row invariant against a GENUINELY lossy codec:
    every fmt='dct' row decodes with 40 dB <= PSNR < inf — high fidelity,
    but measurably not bit-exact (the contract had never executed against
    an actually-lossy path before round 4)."""
    rows = raster.images_table_lossy(spark, sf_dir).limit(20).collect()
    assert rows
    for r in rows:
        assert r.fmt == "dct"
        decoded = raster.decode_image(bytes(r.bytes), r.w, r.h, r.fmt)
        expected = raster.gen_pixels(r.okey, r.w, r.h)
        assert decoded.shape == (r.h, r.w, 3)
        p = raster.psnr(decoded, expected)
        assert 40.0 <= p < math.inf, (r.okey, p)
        assert not np.array_equal(decoded, expected)


def test_dct_codec_numpy_roundtrip():
    """Codec-level invariants, no Spark: header round-trip, odd shapes,
    grayscale, monotone-quality PSNR, and bad-magic rejection."""
    from opengxt_spark import dctcodec

    rng_img = raster.gen_pixels(424242, 37, 21)
    prev = 0.0
    for q in (80, 90, 96):
        dec = dctcodec.decode(dctcodec.encode(rng_img, q))
        assert dec.shape == rng_img.shape
        p = raster.psnr(rng_img, dec)
        assert p > prev  # higher quality -> strictly better reconstruction
        prev = p
    gray = rng_img[:, :, 0]
    dg = dctcodec.decode(dctcodec.encode(gray))
    assert dg.shape == (21, 37, 1)
    with pytest.raises(ValueError):
        dctcodec.decode(b"JUNK" + b"\x00" * 32)


def test_lossy_tile_assignment_matches_lossless(spark, sf_dir):
    """Tile ASSIGNMENT (which tiles, how many pixels) is invariant to the
    codec; tile luminance sums agree to within the 40 dB error budget."""
    lossless = {
        (t.tx, t.ty): (t.npix, t.sum_lum)
        for t in raster.rasterize_tiles(raster.images_table(spark, sf_dir)).collect()
    }
    lossy = {
        (t.tx, t.ty): (t.npix, t.sum_lum)
        for t in raster.rasterize_tiles(
            raster.images_table_lossy(spark, sf_dir)
        ).collect()
    }
    assert set(lossless) == set(lossy)
    for key, (npix, sl) in lossless.items():
        npix2, sl2 = lossy[key]
        assert npix == npix2
        # mean abs pixel error at 40 dB is ~2.55/255; npix-summed luminance
        # stays within a few units per pixel
        assert abs(sl - sl2) <= 4.0 * max(npix, 1), (key, sl, sl2)


def test_decode_unknown_codec_raises():
    with pytest.raises(NotImplementedError):
        raster.decode_image(b"\x00" * 12, 2, 2, "jpeg")


def test_rasterize_conserves_luminance(spark, sf_dir):
    """Every footprint lies inside the world, and the tile resolution (0.5)
    oversamples the footprint pixels (0.2/px world size < 0.5 would
    undersample — each tile pixel samples nearest image pixel; the sum over
    tile pixels equals the sum over sampled image pixels). Check the global
    tile sum against an independent numpy reference."""
    imgs = raster.images_table(spark, sf_dir)
    rows = imgs.collect()
    tiles = raster.rasterize_tiles(imgs).collect()
    got = sum(t.sum_lum for t in tiles)

    ppt = raster.PIXELS_PER_TILE
    res = raster.TILE_SIZE / ppt
    expected = 0.0
    for r in rows:
        img = raster.gen_pixels(r.okey, r.w, r.h).astype(np.float64).mean(axis=2)
        # world pixel centers covered by this footprint
        x0, x1 = r.fx, r.fx + r.w * raster.FOOT_SCALE
        y0, y1 = r.fy, r.fy + r.h * raster.FOOT_SCALE
        jx = np.arange(math.floor(x0 / res), math.ceil(x1 / res) + 1)
        iy = np.arange(math.floor(y0 / res), math.ceil(y1 / res) + 1)
        pj = jx * res + res / 2.0
        pi = iy * res + res / 2.0
        sx = np.floor((pj - r.fx) / raster.FOOT_SCALE).astype(int)
        sy = np.floor((pi - r.fy) / raster.FOOT_SCALE).astype(int)
        # no world clip: the tile raster extends to every covered tile,
        # including tiles past the 1000-edge for boundary footprints
        mj = (sx >= 0) & (sx < r.w)
        mi = (sy >= 0) & (sy < r.h)
        if mj.any() and mi.any():
            expected += img[np.ix_(sy[mi], sx[mj])].sum()
    assert math.isclose(got, expected, rel_tol=1e-9)


def test_tile_blocks_decode(spark, sf_dir):
    tiles = raster.rasterize_tiles(raster.images_table(spark, sf_dir)).collect()
    assert tiles
    ppt = raster.PIXELS_PER_TILE
    for t in tiles[:5]:
        block = np.frombuffer(bytes(t.block), dtype=np.float32).reshape(ppt, ppt)
        assert int((block > 0).sum()) == t.npix
        assert math.isclose(float(block.sum()), t.sum_lum, rel_tol=1e-5)


def test_phash_neardup_finds_planted_pairs(spark, sf_dir):
    """Every planted (g, g+7) 2-bit pair is found, and nothing else."""
    from opengxt_spark import raster as R

    rows = R.phash_neardup(spark, sf_dir).collect()
    got = {(r["okey_a"], r["okey_b"]): r["hamming"] for r in rows}
    keys = {
        int(r["okey"])
        for r in R.images_meta(spark, sf_dir).select("okey").collect()
    }
    expected = {
        (g, g + 7)
        for g in keys
        if g % 10 == 0 and (g + 7) in keys
    }
    planted = {k for k in got if k in expected}
    assert planted == expected
    for k in expected:
        assert got[k] == 2
    # non-planted pairs would need an accidental <=3-bit collision of two
    # independent 63-bit scrambles -- astronomically unlikely
    assert set(got) == expected


def test_bicubic_weights_are_keys_kernel():
    """The x128 integer weight table IS the Keys a=-0.5 kernel at
    u = 1/4: matches the closed-form kernel, sums to 128
    (partition of unity), and reproduces quadratics exactly — the
    third-order-accuracy property that defines cubic convolution."""
    from opengxt_spark import raster as R

    a = -0.5

    def keys(x):
        x = abs(x)
        if x <= 1:
            return (a + 2) * x**3 - (a + 3) * x**2 + 1
        if x < 2:
            return a * x**3 - 5 * a * x**2 + 8 * a * x - 4 * a
        return 0.0

    for u4, ws in R._BICUBIC_W.items():
        u = u4 / 4.0
        assert sum(ws) == 128
        for i, w in enumerate(ws):
            # taps at offsets (-1, 0, 1, 2) from the base pixel
            assert w == round(128 * keys(u - (i - 1)))
        # quadratic reproduction: sum w * f(tap) == 128 * f(u)
        for c0, c1, c2 in ((1, 0, 0), (0, 1, 0), (0, 0, 1), (2, -3, 5)):
            f = lambda x: c0 + c1 * x + c2 * x * x
            got = sum(w * f(i - 1) for i, w in enumerate(ws))
            assert got == round(128 * f(u))


def test_bicubic_weight_case_is_exhaustive(spark):
    """The 2x lattice yields one phase (4u = 1) on every output, and the
    weight CASE is NULL for any other phase or tap instead of applying
    another phase's weights."""
    from opengxt_spark import raster as R

    got = {
        (r.u, r.c): r.w
        for r in spark.range(5 * 5).selectExpr(
            "CAST(id % 5 AS BIGINT) AS u", "CAST(id DIV 5 AS BIGINT) AS c"
        ).selectExpr("u", "c", f"{R._bicubic_w_sql('c', 'u')} AS w").collect()
    }
    for (u, c), w in got.items():
        want = R._BICUBIC_W[u][c] if u in R._BICUBIC_W and c < 4 else None
        assert w == want, (u, c, w)

    phases = set()
    for o in range(250):
        i0 = int(np.floor((o * 4 + 1.5 - 1.0) / 2.0))
        phases.add(int(4.0 * ((o * 4 + 1.5 - (i0 * 2 + 1)) / 2.0)))
    assert phases == set(R._BICUBIC_W) == {1}


def test_bicubic_resample_inner_lattice(spark):
    """Spark bicubic output: 248x248 inner lattice (full 4x4 windows
    only), and every value equals the numpy 16-tap sum on a sampled row."""
    import numpy as np

    from opengxt_spark import raster as R

    out = R.raster_resample_bicubic(spark)
    pdf = out.toPandas()
    assert len(pdf) == 248 * 248
    assert pdf.ox.min() == 1 and pdf.ox.max() == 248
    # independent numpy replay for one output row band
    pix = spark.sql(R.ZONAL_PIXELS_SQL_SPARK).toPandas()
    v = np.zeros((500, 500), dtype=np.int64)
    v[pix.ix.to_numpy(), pix.iy.to_numpy()] = pix.v.to_numpy()
    sub = pdf[pdf.oy == 100].sort_values("ox")
    for _, row in sub.iloc[:40].iterrows():
        ox, oy = int(row.ox), int(row.oy)
        acc = 0
        ix0 = int(np.floor((ox * 4 + 1.5 - 1.0) / 2.0))
        iy0 = int(np.floor((oy * 4 + 1.5 - 1.0) / 2.0))
        ux4 = int(4.0 * ((ox * 4 + 1.5 - (ix0 * 2 + 1)) / 2.0))
        uy4 = int(4.0 * ((oy * 4 + 1.5 - (iy0 * 2 + 1)) / 2.0))
        wx = R._BICUBIC_W[ux4]
        wy = R._BICUBIC_W[uy4]
        for cx in range(4):
            for cy in range(4):
                acc += wx[cx] * wy[cy] * v[ix0 - 1 + cx, iy0 - 1 + cy]
        assert acc == int(row.v16384), (ox, oy)
