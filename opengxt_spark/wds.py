"""WebDataset-style tar shard sink/source for the image+caption table.

Large-scale training pipelines consume image+caption data as sequential
tar shards (the WebDataset layout: one `{key}.rgb8` payload member plus a
`{key}.json` metadata member per sample, samples contiguous within a
shard) rather than as row-columnar parquet — a sequential read per shard
feeds a data-loader at disk bandwidth with zero seeks. This module is the
export/import pair for that layout, designed like the engine's shapefile
and GeoTIFF sinks (reference parity: the reference's export operations,
e.g. GeoTools `RasterExportOperation.java` / `FeatureInserter.java:60`,
buffer rows into external files with a manifest; here the "format" is the
public WebDataset/tar convention instead of shp/tif):

- **Export**: one metadata-only aggregate returns the row count, the
  payload bytes (which size the shard count against the target shard
  byte size) and the okey cut points (`percentile_approx`). A JVM
  `Bucketizer` maps okey to its shard id by binary search over the cuts,
  `repartitionById` routes each row to its shard, and one tar is written
  per partition by its own task (no driver funnel, no global window).
  The payload column is evaluated once, on the map side of that one
  shuffle. Each task emits a manifest row (file, rows, bytes, okey_min,
  okey_max) — the same per-partition lineage contract as
  `checkpoint.py` — and the driver writes the collected rows to
  `_manifest` with pyarrow.
- **Import**: a `binaryFile` scan of `*.tar` with an Arrow-batched tar
  parse — shuffle-free, one task per shard, exactly like the shapefile
  source.
- **Determinism**: tar members are emitted in okey order with pinned
  mtime=0, uid/gid=0, so re-exporting identical data yields bit-identical
  shards (resume-safe, content-addressable).

At 10^12 images nothing here is driver-bound: the driver collects the
1-row sizing aggregate and the manifest (one row per shard, same as
every write job's task-commit messages).
"""

from __future__ import annotations

import io
import json
import math
import os
import shutil
import tarfile
from typing import Iterator

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: target payload bytes per shard. PRODUCTION DEFAULT: 256 MB - 1 GB
#: (one shard per task, amortized tar headers, object-store-friendly
#: object sizes — pass target_bytes=256 << 20 at the call site; the
#: production-shard-grain leg of BENCH.md "Image-pipeline scaling
#: (round 4)" confirms the late path stays the faster one at that
#: grain). The 4 MB default here is deliberately GATE-SIZED: it keeps
#: the sf fixtures multi-shard so the multi-file reader, the manifest
#: zone map, and crash-resume are always exercised.
TARGET_SHARD_BYTES = 4 << 20

_MANIFEST_SCHEMA = T.StructType([
    T.StructField("file", T.StringType()),
    T.StructField("rows", T.LongType()),
    T.StructField("bytes", T.LongType()),
    T.StructField("okey_min", T.LongType()),
    T.StructField("okey_max", T.LongType()),
])

_MANIFEST_ARROW = pa.schema(
    [(f.name, pa.string() if f.name == "file" else pa.int64())
     for f in _MANIFEST_SCHEMA.fields]
)

#: okey quantiles the sizing aggregate returns. An export of up to
#: ``_CUT_GRID // 8`` shards reads its cut points off this grid (each cut
#: within 1/16 of a shard's rows of its exact quantile); a larger export
#: runs one more metadata-only aggregate for its exact percentages.
_CUT_GRID = 4096

_SAMPLE_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("okey", T.LongType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
    T.StructField("fmt", T.StringType()),
    T.StructField("caption", T.StringType()),
    T.StructField("bytes", T.BinaryType()),
])


def _tar_header(name: str, size: int) -> bytes:
    """A 512-byte ustar header, built directly.

    The stdlib `tarfile.addfile` costs ~250us per member (TarInfo
    construction + BytesIO copy); this builder is ~10x faster and was the
    dominant cost of the whole export (measured: 22.6 of 32.2 s at
    local[8], 1.2M rows). Fixed fields are pinned (mode 0644, uid/gid 0,
    mtime 0, empty uname/gname) — the same determinism contract the
    tarfile path used. Members stay plain ustar: names <= 100 bytes and
    sizes < 8 GiB are asserted, both far above any per-sample payload."""
    nb = name.encode()
    if len(nb) > 100:
        raise ValueError(f"tar member name too long ({len(nb)} > 100): {name}")
    if size >= 8 << 30:
        raise ValueError(f"tar member too large for ustar octal size: {size}")
    b = bytearray(512)
    b[0:len(nb)] = nb
    b[100:108] = b"0000644\x00"                      # mode
    b[108:116] = b"0000000\x00"                      # uid
    b[116:124] = b"0000000\x00"                      # gid
    b[124:136] = ("%011o" % size).encode() + b"\x00"  # size
    b[136:148] = b"00000000000\x00"                  # mtime = 0
    b[148:156] = b"        "                         # chksum placeholder
    b[156] = 0x30                                    # typeflag '0' (regular)
    b[257:263] = b"ustar\x00"
    b[263:265] = b"00"
    chk = sum(b)
    b[148:156] = ("%06o" % chk).encode() + b"\x00 "
    return bytes(b)


def _tar_add(out, name: str, payload: bytes) -> None:
    """Append one member (header + payload + 512-byte padding) to a raw
    binary stream opened for writing."""
    out.write(_tar_header(name, len(payload)))
    out.write(payload)
    pad = (-len(payload)) % 512
    if pad:
        out.write(b"\x00" * pad)


def _fractions(k: int) -> Column:
    """The percentages i/k, 0 < i < k, as one foldable array expression.
    A split string keeps it to one literal: ``array()`` of k literals
    costs the parser and analyzer about 0.1 ms per element."""
    csv = ",".join(repr(i / k) for i in range(1, k))
    return F.expr(f"CAST(split('{csv}', ',') AS ARRAY<DOUBLE>)")


def _okey_cuts(images: DataFrame, target_bytes: int) -> list[float]:
    """Shard cut points over okey, increasing and distinct, from one
    metadata-only aggregate (count, payload bytes, okey quantiles).

    ``percentile_approx`` returns input values, so every cut is an okey
    that starts a shard. Its rank error is 1/``accuracy``, here a tenth
    of the finest step read off the result. Cuts are returned as doubles
    (the Bucketizer's domain); okeys beyond 2^53 that round to one double
    stay in one shard, so shard ranges remain disjoint and increasing."""
    acc = 10 * _CUT_GRID
    n, total, qs = images.agg(
        F.count("*"),
        F.sum(F.expr("CAST(w AS BIGINT) * h * 3")),
        F.percentile_approx("okey", _fractions(_CUT_GRID), acc),
    ).first()
    if not n:
        return []
    n_shards = max(2, -(-int(total or 0) // target_bytes))
    if 8 * n_shards <= _CUT_GRID:
        cuts = [qs[round(i * _CUT_GRID / n_shards) - 1]
                for i in range(1, n_shards)]
    else:
        cuts = images.agg(F.percentile_approx(
            "okey", _fractions(n_shards), max(acc, 10 * n_shards)
        )).first()[0]
    return sorted({float(c) for c in cuts})


def write_wds_shards(
    images: DataFrame,
    out_dir: str,
    target_bytes: int = TARGET_SHARD_BYTES,
    payload=None,
    resume: bool = False,
) -> DataFrame:
    """Write the image table as WebDataset tar shards; return the manifest.

    ``images`` must carry (image_id, okey, w, h, fmt, caption) plus a
    ``bytes`` column when ``payload`` is None. The export runs when
    called: one metadata-only aggregate sizes and cuts the shards, one
    shuffle routes rows to their shard's writer task, and the driver
    writes the collected manifest rows to ``out_dir/_manifest`` (one
    parquet file, written with pyarrow). Returns the manifest as a
    local, Arrow-backed DataFrame.

    Shard ``i`` holds the okeys in [cut_i, cut_{i+1}): ranges are disjoint
    and increasing, and a shard's members are written in okey order.
    ``bytes`` is read only by the shuffle, so a payload that is a column
    expression (``raster.with_bytes``) is evaluated once per row, on the
    map side; the aggregate prunes it.

    ``payload``: optional LATE-MATERIALIZATION hook — a callable
    ``(pdf: pd.DataFrame) -> sequence[bytes]`` invoked inside the writer
    task on the shard's metadata frame. When set, only the (small)
    metadata rows flow through the shuffle and the heavy payload is
    materialized at the writer — the 10^12-scale export shape (shuffle
    pointers, not pixels: at 100 TB the shuffle of raw bytes is bounded
    by aggregate shuffle-disk bandwidth, while the metadata shuffle is
    ~10^-3 of it). Both paths evaluate the payload once per row, so the
    hook's remaining edge is shuffle volume plus one Python hop: the
    payload is made in the writer's own Python worker instead of a
    map-side UDF whose output crosses Arrow twice. For real stored
    images the hook is a pointer-dereference (object-store range read);
    for the synthetic table it is the deterministic generator
    (`raster.payload_rgb8`). The output shards are BIT-IDENTICAL to the
    bytes-shuffled path.

    ``resume``: crash-resume an interrupted export. Every shard is
    written via temp-file + atomic rename (task-commit), so a final
    shard file that exists is complete; with ``resume=True`` those
    tasks skip the payload materialization and tar write and only
    re-emit their manifest rows. Shard content is a pure function of
    the data and its cut points, so the resumed output is bit-identical
    to a fresh export (pytest-pinned). A fresh export records its cut
    points in ``out_dir/_cuts.json`` before any shard is written and a
    resumed one reuses them: the cuts are exact only while the quantile
    summaries stay uncompressed (about 40,960 rows); beyond that they
    can move with the order in which partial summaries merge, and a
    resumed shard must have the first run's boundaries. Parity: the
    reference's FeatureInserter buffered sink commits per-batch
    (`GT/storage/FeatureInserter.java:60`); here the commit grain is the
    shard and the ledger is `_manifest`.
    """
    from pyspark.ml.feature import Bucketizer

    os.makedirs(out_dir, exist_ok=True)
    cols = ["image_id", "okey", "w", "h", "fmt", "caption"]
    if payload is None:
        cols.append("bytes")
    cuts_path = os.path.join(out_dir, "_cuts.json")
    if resume and os.path.exists(cuts_path):
        with open(cuts_path) as f:
            cuts = json.load(f)
    else:
        cuts = _okey_cuts(images, target_bytes)
        tmp = f"{cuts_path}.inprogress-{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cuts, f)
        os.replace(tmp, cuts_path)
    rows = images.select(*cols)
    if cuts:
        rows = Bucketizer(
            splits=[-math.inf, *cuts, math.inf],
            inputCol="okey", outputCol="_shard",
        ).transform(rows)
    else:
        rows = rows.withColumn("_shard", F.lit(0))
    parts = rows.repartitionById(
        len(cuts) + 1, F.col("_shard").cast("int")
    ).drop("_shard")

    def write_part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        rows = []
        for pdf in batches:
            rows.append(pdf)
        if not rows:
            return
        pdf = pd.concat(rows).sort_values("okey")
        fn = os.path.join(out_dir, f"shard-{pid:05d}.tar")
        # Skip-path manifest bytes: actual payload lengths when the bytes
        # column is present; the raw-rgb8 size otherwise (the late-
        # materialization hook contract is raw rgb8).
        nbytes = int(
            pdf["bytes"].map(len).sum() if "bytes" in pdf.columns else
            (pdf["w"].astype("int64") * pdf["h"].astype("int64") * 3).sum()
        )
        if not (resume and os.path.exists(fn)):
            # Task-commit protocol: write to a task-private temp, then
            # atomically rename — a shard file that EXISTS is complete, so
            # a resumed run can skip it without verification (same
            # contract as checkpoint.py's snapshot commit). Shard content
            # is a pure function of the data (deterministic boundaries,
            # okey order, pinned tar metadata), so skipping is safe.
            if payload is not None:
                pdf = pdf.assign(bytes=list(payload(pdf)))
            tmp = f"{fn}.inprogress-{os.getpid()}"
            nbytes = 0
            with open(tmp, "wb", buffering=1 << 20) as tf:
                for r in pdf.itertuples(index=False):
                    meta = json.dumps(
                        {"okey": int(r.okey), "w": int(r.w), "h": int(r.h),
                         "fmt": str(r.fmt), "caption": str(r.caption)},
                        sort_keys=True,
                    ).encode()
                    _tar_add(tf, f"{r.image_id}.json", meta)
                    blob = bytes(r.bytes)
                    _tar_add(tf, f"{r.image_id}.{r.fmt}", blob)
                    nbytes += len(blob)
                tf.write(b"\x00" * 1024)  # end-of-archive blocks
            os.replace(tmp, fn)
        yield pd.DataFrame({
            "file": [os.path.basename(fn)],
            "rows": [len(pdf)],
            "bytes": [nbytes],
            "okey_min": [int(pdf["okey"].min())],
            "okey_max": [int(pdf["okey"].max())],
        })

    man = (
        parts.mapInPandas(write_part, schema=_MANIFEST_SCHEMA)
        .toPandas()
        .sort_values("file", ignore_index=True)
    )
    mdir = os.path.join(out_dir, "_manifest")
    shutil.rmtree(mdir, ignore_errors=True)
    os.makedirs(mdir)
    pq.write_table(
        pa.Table.from_pandas(man, schema=_MANIFEST_ARROW, preserve_index=False),
        os.path.join(mdir, "part-00000.parquet"),
    )
    return images.sparkSession.createDataFrame(man, schema=_MANIFEST_SCHEMA)


def prune_shards(
    spark: SparkSession, in_dir: str, okey_lo: int, okey_hi: int
) -> list[str]:
    """Shard paths whose manifest [okey_min, okey_max] overlaps the key
    range — the per-shard ledger doubles as a zone map. The export
    range-partitions on okey, so shard ranges are disjoint and a point
    lookup prunes to ONE shard regardless of shard count; the manifest
    is one small parquet row per shard, read on the driver with pyarrow
    (no Spark job, even at 10^5 shards)."""
    man = pq.read_table(
        os.path.join(in_dir, "_manifest"),
        columns=["file", "okey_min", "okey_max"],
    ).to_pandas()
    hit = man["file"][
        (man["okey_max"] >= int(okey_lo)) & (man["okey_min"] <= int(okey_hi))
    ]
    return sorted(os.path.join(in_dir, f) for f in hit)


def read_wds_shards(
    spark: SparkSession,
    in_dir: str,
    okey_range: tuple[int, int] | None = None,
) -> DataFrame:
    """Read WebDataset tar shards back into the image-table shape.

    One `binaryFile` scan of the shard files, one Arrow-batched tar parse
    per shard — shuffle-free (the plan has zero exchanges, like the
    shapefile source). Column set matches `raster.images_table` minus the
    synthetic footprint columns.

    ``okey_range=(lo, hi)``: prune the scan to the shards whose manifest
    key range overlaps (zone-map pruning BEFORE the binaryFile scan — a
    point lookup opens one tar, not the dataset), then filter rows to the
    exact range after the parse.
    """
    if okey_range is not None:
        lo, hi = okey_range
        paths = prune_shards(spark, in_dir, lo, hi)
        if not paths:
            return spark.createDataFrame([], _SAMPLE_SCHEMA)
        files = (
            spark.read.format("binaryFile").load(paths)
            .select("path", "content")
        )
    else:
        files = (
            spark.read.format("binaryFile")
            .load(os.path.join(in_dir, "*.tar"))
            .select("path", "content")
        )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in
                   ("image_id", "okey", "w", "h", "fmt", "caption", "bytes")}
            for blob in pdf["content"]:
                with tarfile.open(fileobj=io.BytesIO(bytes(blob))) as tf:
                    pending: dict[str, dict] = {}
                    for m in tf:
                        stem, ext = m.name.rsplit(".", 1)
                        rec = pending.setdefault(stem, {})
                        data = tf.extractfile(m).read()
                        if ext == "json":
                            rec["meta"] = json.loads(data)
                        else:
                            rec["payload"] = data
                        if "meta" in rec and "payload" in rec:
                            meta = rec["meta"]
                            out["image_id"].append(stem)
                            out["okey"].append(int(meta["okey"]))
                            out["w"].append(int(meta["w"]))
                            out["h"].append(int(meta["h"]))
                            out["fmt"].append(str(meta["fmt"]))
                            out["caption"].append(str(meta["caption"]))
                            out["bytes"].append(rec["payload"])
                            del pending[stem]
                    if pending:
                        raise ValueError(
                            f"unpaired members in shard: {sorted(pending)[:3]}"
                        )
            yield pd.DataFrame(out)

    out = files.mapInPandas(parse, schema=_SAMPLE_SCHEMA)
    if okey_range is not None:
        out = out.where(
            (F.col("okey") >= int(okey_range[0]))
            & (F.col("okey") <= int(okey_range[1]))
        )
    return out


# ---------------------------------------------------------------------------
# Gate fixture (write once per sf per session, like shapefile fixtures)
# ---------------------------------------------------------------------------

_FIXED: set = set()


def wds_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Round-trip fixture: export the full synthetic image table once per
    (sf, session); return the shard directory."""
    from . import raster

    tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join("/root/repo/.scratch/wds", tag)
    if path not in _FIXED:
        shutil.rmtree(path, ignore_errors=True)
        write_wds_shards(raster.images_table(spark, sf_dir), path)
        _FIXED.add(path)
    return path
