"""The benchmark workloads: their inputs, timed queries and checks.

Each query is built from the public operator functions on the persisted
input frames, exactly as a user job would call them. Each has a check: the
operator output (projected like the query registry projects it) next to
the operator's DuckDB oracle SQL from ``driver_queries.ORACLES`` over the
same generated inputs. DuckDB runs the distance join as a nested loop, so
both sides are compared on a seeded sample of keys (left ids, image keys).

Why each workload exists (README.md has the layer table):

- ring-knn: planner probes, the ring schedule and eager scratch persists
  dominate; the only workload whose cold first pass differs sharply.
- image-export: Python/Arrow workers do the work and the export writes to
  disk; the only workload that measures imageops, raster.with_bytes, wds.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opengxt_spark import driver_queries, imageops, joins, raster, wds, world

from inputs import REP_OFF, REPLICATED_SQL, Sizes, density

#: Left ids or images sampled for the oracle checks.
CHECK_SAMPLE = 300
#: Shard size for the export: several shards per pass at this table size.
WDS_SHARD_BYTES = 4 << 20


@dataclass
class Query:
    name: str
    build: Callable[[dict], DataFrame]
    #: (ins) -> (frame to check, oracle SQL). The frame is written out in
    #: full; both sides are compared on the rows whose ``key`` (a SQL
    #: expression) is in the sample. None: checked on its own (the export).
    check: Callable[[dict], tuple[DataFrame, str]] | None = None
    key: str = ""
    #: Executes a built plan; the default runs it into the noop sink.
    run: Callable[[DataFrame], None] = lambda df: (
        df.write.format("noop").mode("overwrite").save()
    )


@dataclass
class Workload:
    name: str
    sizes: Sizes
    queries: list[Query]
    #: What the rows_per_s numerator counts: "points" or "images".
    input_layer: str
    #: input name -> layer built from the registered views.
    layers: dict[str, str]


def _layer_sql(name: str) -> str:
    if name == "images_meta":
        return raster.IMAGES_META_SQL
    return REPLICATED_SQL[name]


def register_views(spark: SparkSession, paths: dict[str, str]) -> None:
    for table, path in paths.items():
        spark.read.parquet(path).createOrReplaceTempView(table)


def load_inputs(spark: SparkSession, wl: Workload) -> dict[str, DataFrame]:
    """Build the workload's input frames from the registered views. Point
    layers are spread to full parallelism after the replicate explode and
    persisted, so every query scans the same materialised rows. The image
    table is not cached: its bytes are generated in Python on every scan."""
    par = spark.sparkContext.defaultParallelism
    out: dict[str, DataFrame] = {}
    for key, layer in wl.layers.items():
        df = spark.sql(_layer_sql(layer))
        if layer in REPLICATED_SQL:
            df = df.repartition(par).persist()
        out[key] = df
    for df in out.values():
        df.count()
    if "meta" in out:
        out["imgs"] = raster.with_bytes(out["meta"])
    return out


def release_inputs(ins: dict[str, DataFrame]) -> None:
    for df in ins.values():
        if df.is_cached:
            df.unpersist(True)


def input_rows(wl: Workload) -> int:
    s = wl.sizes
    if wl.input_layer == "images":
        return s.orders
    return s.events * s.replicas


def densities(wl: Workload) -> dict[str, float]:
    """True points per unit area of each point layer."""
    s = wl.sizes
    counts = {"events": s.events * s.replicas, "part": s.part * s.replicas}
    return {k: density(n) for k, n in counts.items() if n}


# ---------------------------------------------------------------------------
# Image export: one directory per execution under the run's work dir
# ---------------------------------------------------------------------------


class WdsSink:
    """Owns the export directories. The last export is kept for the check;
    earlier ones are removed before the next export starts."""

    def __init__(self, root: str):
        self.root = root
        self.n = 0
        self.last: str | None = None

    def next_dir(self) -> str:
        if self.last:
            shutil.rmtree(self.last, ignore_errors=True)
        self.n += 1
        self.last = os.path.join(self.root, f"wds-{self.n:04d}")
        return self.last


def _sub(sql: str, old: str, new: str) -> str:
    """Rewrite oracle text, e.g. to read a replicated layer view instead of
    the raw layer; fails loudly if the oracle no longer contains ``old``."""
    if old not in sql:
        raise ValueError(f"oracle text changed: {old!r} not found")
    return sql.replace(old, new)


EVENTS, PART = world.POINTS_EVENTS_SQL, world.POINTS_PART_SQL
EV_SAMPLED = "SELECT * FROM points_events_rep WHERE pid IN (SELECT id FROM sample)"
PT_VIEW = "SELECT * FROM points_part_rep"
ORACLES = driver_queries.ORACLES


def _knn(i: dict) -> DataFrame:
    return joins.knn_join(i["ev"], i["pt"], k=4, radius=50.0,
                          exclude_self=False, mm_exact=True)


def _knn_check(i: dict) -> tuple[DataFrame, str]:
    sql = _sub(ORACLES["knn_join_k4_r50"], EVENTS, EV_SAMPLED)
    sql = _sub(sql, PART, PT_VIEW)
    return (_knn(i).select("pid_l", "pid_r", "dist",
                           F.col("rank").alias("knn_rank")), sql)


def _patchify(i: dict) -> DataFrame:
    return imageops.patchify_images(i["imgs"])


def _patchify_pass(i: dict) -> DataFrame:
    return _patchify(i).groupBy().agg(
        F.sum("wsum").alias("wsum"), F.count("psum").alias("patches"))


def _patchify_check(i: dict) -> tuple[DataFrame, str]:
    sql = _sub(ORACLES["image_patchify"],
               "FROM orders WHERE o_orderkey % 7 = 3",
               "FROM orders WHERE o_orderkey IN (SELECT id FROM sample)")
    return _patchify(i), sql


def make_workloads(wds_sink: WdsSink | None) -> dict[str, Workload]:
    return {
        w.name: w
        for w in (
            Workload(
                "ring-knn",
                Sizes(events=6_000, part=1_200, replicas=8),
                [Query("knn_join_k4_r50", _knn, _knn_check, key="pid_l")],
                "points",
                {"ev": "points_events", "pt": "points_part"},
            ),
            Workload(
                "image-export",
                Sizes(orders=6_000),
                [
                    Query("patchify", _patchify_pass, _patchify_check,
                          key="CAST(substr(image_id, 5) AS BIGINT)"),
                    # write_wds_shards writes when called and returns the
                    # manifest; the export is checked from its tar files.
                    Query("wds_write",
                          lambda i: wds.write_wds_shards(
                              i["imgs"], wds_sink.next_dir(),
                              target_bytes=WDS_SHARD_BYTES),
                          run=lambda df: df.count()),
                ],
                "images",
                {"meta": "images_meta"},
            ),
        )
    }


def draw_sample(seed: int, paths: dict[str, str], wl: Workload) -> list[int]:
    """Seeded sample of the keys the checks compare: replicated event ids
    for the point workloads, image keys for the export."""
    rng = np.random.default_rng([seed, 1])
    table, col = (("orders", "o_orderkey") if wl.input_layer == "images"
                  else ("events", "event_id"))
    ids = pq.read_table(paths[table], columns=[col])[col].to_numpy()
    base = rng.choice(ids, size=min(CHECK_SAMPLE, len(ids)), replace=False)
    if wl.input_layer == "images":
        return sorted(int(v) for v in base)
    reps = rng.integers(0, wl.sizes.replicas, size=len(base))
    return sorted(int(b + r * REP_OFF) for b, r in zip(base, reps))
