"""Cell-bucketed spatial-join planner: broadcast vs shuffle vs salted shuffle.

The reference has no planner — every join is a single-threaded STRtree probe
(SURVEY.md §2.4). At 100 TB the join strategy IS the performance story:

- **broadcast**: if the build side (usually the polygon/grid layer) is small,
  hint ``broadcast()`` so the cell join is a map-side hash join — zero shuffle
  of the big point/tile side.
- **shuffle**: otherwise a shuffle hash/sort-merge join on (cell_x, cell_y);
  AQE (enabled in session.py) re-plans and splits skewed partitions at runtime.
- **salt**: for pathologically hot cells (a city-center cell holding 1e8
  points), salt the big side with ``pmod(hash(id), n_salt)`` and explode the
  small side across all salt values, so one cell spreads over n_salt tasks.

``plan_cell_join`` picks a strategy from a cheap build-side count (metadata-
only at parquet/Iceberg scale) unless the caller forces one.
"""

from __future__ import annotations

import hashlib
import json
import logging
import os
import re
import tempfile
import time
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)

BROADCAST_ROW_LIMIT = 2_000_000  # ~65 MB of (id, cells, params) rows.
# Measured on the bench suite: a 2.4M-row build side broadcast costs more
# in serial driver hash-relation construction per execution than the tiled
# ghost-halo path's one extra shuffle — keep the ceiling at 2M rows.

_EXPR_ID = re.compile(r"#\d+")
_SOURCE_EPOCH: list[str] = [""]


def set_source_epoch(tag: str) -> None:
    """Called by world.register_tables with the sf dir so probe caches never
    carry a measurement across different source datasets.

    The epoch mixes in a cheap fingerprint of the directory listing
    (name/size/mtime_ns per table, and per file one level inside table
    directories) so a REGENERATED dataset at the same path invalidates
    every persisted probe — a stale count/minmax could mis-size the packed
    top-k encoding, so staleness must be structural, not best-effort.
    Nanosecond mtimes catch a rewrite within the same second at the same
    size; the recursion catches part files rewritten in place, which
    leave the table directory's own mtime unchanged."""
    tag = str(tag)
    fp = ""
    if os.path.isdir(tag):
        parts: list[str] = []
        _fingerprint(tag, "", parts, depth=1)
        fp = hashlib.md5("|".join(parts).encode()).hexdigest()[:12]
    _SOURCE_EPOCH[0] = f"{tag}@{fp}"


def _fingerprint(root: str, rel: str, parts: list[str], depth: int) -> None:
    try:
        names = sorted(os.listdir(os.path.join(root, rel)))
    except OSError:
        return
    for name in names:
        path = os.path.join(rel, name)
        try:
            st = os.stat(os.path.join(root, path))
        except OSError:
            continue
        parts.append(f"{path}:{st.st_size}:{st.st_mtime_ns}")
        if depth > 0 and os.path.isdir(os.path.join(root, path)):
            _fingerprint(root, path, parts, depth - 1)


def plan_key(df: DataFrame) -> str:
    """Canonical identity of a DataFrame's source+transform chain: analyzed
    plan text with expression ids stripped, plus the source epoch (a
    view's analyzed plan does not show its parquet path) — a STABLE md5
    digest (not Python ``hash``, which is salted per process)
    so probe results can persist across driver sessions.

    Frames built by createDataFrame (a LocalRelation, or a LogicalRDD over
    driver-side rows) print no data in the analyzed plan, so two of them
    with one schema would share a key. Their keys mix in each local
    leaf's identity (the content hash of a LocalRelation's rows, the id
    of a LogicalRDD's RDD), get a ``mem:`` prefix and are confined to the
    in-memory tier."""
    plan = df._jdf.queryExecution().analyzed()
    s = plan.toString()
    text = _SOURCE_EPOCH[0] + "\x00" + _EXPR_ID.sub("", s)
    local = "LocalRelation" in s or "LogicalRDD" in s
    if local:
        leaves = plan.collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.nodeName() == "LocalRelation":
                text += f"\x00{leaf.data().hashCode()}"
            elif leaf.nodeName() == "LogicalRDD":
                text += f"\x00{leaf.rdd().id()}"
    digest = hashlib.md5(text.encode()).hexdigest()
    return "mem:" + digest if local else digest


_PERSIST: dict[str, dict] = {}
_PERSIST_LOADED: list[bool] = [False]


def _persist_path() -> str | None:
    p = os.environ.get("OPENGXT_PROBE_CACHE")
    if p is not None and p.strip().lower() in ("0", "off", "none", ""):
        return None
    return p or os.path.join(
        os.path.expanduser("~"), ".cache", "opengxt_spark", "probes.json"
    )


def _store() -> dict:
    if not _PERSIST_LOADED[0]:
        path = _persist_path()
        if path:
            try:
                with open(path) as f:
                    _PERSIST.update(json.load(f))
            except (OSError, ValueError):
                pass
        _PERSIST_LOADED[0] = True
    return _PERSIST


_JSON_SCALARS = (int, float, str, bool, type(None))


def _store_get(kind: str, key: str):
    if key.startswith("mem:") or _persist_path() is None:
        return None
    return _store().get(kind, {}).get(key)


def _store_put(kind: str, key: str, value) -> None:
    path = _persist_path()
    if path is None or key.startswith("mem:"):
        return
    if isinstance(value, (tuple, list)):
        if not all(isinstance(v, _JSON_SCALARS) for v in value):
            return
        value = list(value)
    elif not isinstance(value, _JSON_SCALARS):
        return
    st = _store()
    st.setdefault(kind, {})[key] = value
    try:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        merged: dict = {}
        try:
            with open(path) as f:
                merged = json.load(f)
        except (OSError, ValueError):
            pass
        for k, d in st.items():
            merged.setdefault(k, {}).update(d)
        # Bound the file: tmp-dir fixtures (unique paths every pytest run)
        # accumulate dead keys; past the cap keep only this session's.
        if sum(len(d) for d in merged.values()) > 8192:
            merged = {k: dict(d) for k, d in st.items()}
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path))
        with os.fdopen(fd, "w") as f:
            json.dump(merged, f)
        os.replace(tmp, path)
    except OSError:
        pass


_MEMO: dict[tuple[str, str], object] = {}
_MEMO_CAP = 512
#: Wall seconds of the probe jobs this session ran (memo misses only).
_PROBE_SECONDS: list[float] = [0.0]


def probe_seconds() -> float:
    return _PROBE_SECONDS[0]


def memo_probe(
    kind: str, frames: list[DataFrame], params, job: Callable[[], object]
) -> tuple[object, str]:
    """``(job(), tier)`` memoized per canonical plan: the one memo behind
    every plan-time probe (count, minmax, hot cell, cell size, density,
    band pairs).

    Each probe is an eager Spark job on the driver's critical path, and a
    rebuilt identical query (every bench repeat, every gate query sharing
    a layer) would otherwise re-fire it serially. The key is ``kind``, the
    ``plan_key`` of each frame and ``repr(params)``; ``plan_key`` is stable
    across rebuilds and sessions and changes with the dataset. A stale or
    colliding key mis-sizes a plan, and for minmax (the knn pack budget)
    it could corrupt rows, so the key must see every input: the source
    epoch fingerprint for files, the leaf identity for local frames.

    Tiers, first hit wins: ``"memory"`` (this session, at most _MEMO_CAP
    entries), ``"persisted"`` (one JSON file, OPENGXT_PROBE_CACHE=path, or
    0 to disable; JSON lists come back as tuples) and ``"job"``. The file
    lets a cold session skip the probe jobs of file-backed plans. It is
    written through with merge-on-save and an atomic rename, so
    concurrent processes can only lose a probe, never corrupt one. Keys
    over local frames carry ``mem:`` and never reach the file.

    Only a job's wall time adds to ``probe_seconds()``. Each call logs one
    ``decision`` record at DEBUG on this module's logger."""
    keys = [plan_key(df) for df in frames]
    key = "|".join(k.removeprefix("mem:") for k in keys) + "|" + repr(params)
    if any(k.startswith("mem:") for k in keys):
        key = "mem:" + key
    seconds = None
    if (kind, key) in _MEMO:
        value, tier = _MEMO[(kind, key)], "memory"
    else:
        value, tier = _store_get(kind, key), "persisted"
        if value is None:
            t0 = time.perf_counter()
            value, tier = job(), "job"
            seconds = time.perf_counter() - t0
            _PROBE_SECONDS[0] += seconds
            _store_put(kind, key, value)
        elif isinstance(value, list):
            value = tuple(value)
        if len(_MEMO) >= _MEMO_CAP:
            _MEMO.clear()
        _MEMO[(kind, key)] = value
    decision = {"site": "probe", "kind": kind, "tier": tier}
    if seconds is not None:
        decision["seconds"] = round(seconds, 3)
    log_decision(_log, "probe", decision)
    return value, tier


def log_decision(log: logging.Logger, what: str, decision: dict) -> None:
    """One planner decision at DEBUG on ``log``, with the fields also as a
    ``decision`` dict on the record."""
    if log.isEnabledFor(logging.DEBUG):
        log.debug(
            "%s %s", what, " ".join(f"{k}={v}" for k, v in decision.items()),
            extra={"decision": decision},
        )


def cached_count(df: DataFrame, cap: int | None = None) -> int:
    """Memoized (optionally capped) count. ``cap`` returns
    min(count, cap + 1) via an early-stopping limit."""
    return memo_probe(
        "count", [df], cap or None,
        lambda: (df.limit(cap + 1) if cap else df).count(),
    )[0]


def cached_minmax(df: DataFrame, col: str) -> tuple:
    """Memoized (min, max) of one column: one column-pruned aggregate.
    Sizes the packed top-k encoding (knn_join), where the id bound decides
    the pack factor."""

    def job() -> tuple:
        row = df.agg(F.min(col).alias("_mn"), F.max(col).alias("_mx")).first()
        return (row["_mn"], row["_mx"])

    return memo_probe("minmax", [df], col, job)[0]


#: Not a memo_probe: a scan's split count depends on the session's cores
#: and file-split confs, so it must never persist across sessions.
_NPART_CACHE: dict[str, int] = {}


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition a DataFrame up to the cluster parallelism if it is narrower.

    A broadcast cell-join never shuffles its probe side, so a probe read from
    few parquet files would run the whole join in few tasks. One round-robin
    repartition restores full parallelism; skipped when the scan already has
    enough splits (the normal case at 100 TB, where this guard is free).
    The partition count comes from a memoized ``df.rdd`` conversion — the
    conversion itself is driver-side physical planning, not a job, but it is
    measurable on deep plans and identical for every rebuild of the same
    source.
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    key = plan_key(df)
    n = _NPART_CACHE.get(key)
    if n is None:
        n = df.rdd.getNumPartitions()
        if len(_NPART_CACHE) > 512:
            _NPART_CACHE.clear()
        _NPART_CACHE[key] = n
    if n < target:
        return df.repartition(target)
    return df


@dataclass
class JoinPlan:
    strategy: str  # "broadcast" | "shuffle" | "salted"
    n_salt: int = 8


#: A cell is "hot" when it exceeds this multiple of the per-task average...
HOT_CELL_SALT_FACTOR = 4.0
#: ...AND this absolute floor (below it, one task absorbs the cell anyway;
#: the floor is sized so the salting shuffle surcharge cannot exceed the
#: straggler it removes). Gate/test callers pin a lower floor to exercise
#: the decision at toy scale.
HOT_CELL_MIN_ROWS = 250_000
MAX_SALT = 32

def max_cell_rows(probe: DataFrame) -> int:
    """Memoized size of the probe side's hottest (cell_x, cell_y) group:
    a two-stage count job (map-side partial agg, #cells rows shuffled)."""

    def job() -> int:
        row = (
            probe.groupBy("cell_x", "cell_y")
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(F.max("c").alias("m"))
            .first()
        )
        return int(row["m"] or 0)

    return memo_probe("hotcell", [probe], None, job)[0]


def choose_strategy(
    build: DataFrame,
    strategy: str | None = None,
    broadcast_limit: int = BROADCAST_ROW_LIMIT,
    probe: DataFrame | None = None,
    hot_min: int = HOT_CELL_MIN_ROWS,
) -> JoinPlan:
    """broadcast if the build side is small; else shuffle — escalated to
    salted when a memoized top-cell pre-count on the probe side finds a
    cell that would dominate its shuffle task (the SURVEY §4.2 "salt hot
    cells from a pre-count" contract). n_salt is sized so the hot cell's
    shards land near the per-task average."""
    if strategy is not None:
        return JoinPlan(strategy)
    # Cheap upper-bound count (limit stops early), memoized per canonical
    # plan so repeated builds of the same join never re-fire the probe job.
    n = cached_count(build, cap=broadcast_limit)
    if n <= broadcast_limit:
        return JoinPlan("broadcast")
    if probe is not None:
        import math

        parts = int(
            probe.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
        target = max(cached_count(probe) / max(parts, 1), 1.0)
        hot = max_cell_rows(probe)
        if hot >= hot_min and hot > HOT_CELL_SALT_FACTOR * target:
            n_salt = int(min(MAX_SALT, max(2, math.ceil(hot / target))))
            return JoinPlan("salted", n_salt)
    return JoinPlan("shuffle")


def cell_join(
    probe: DataFrame,
    build: DataFrame,
    refine,
    strategy: str | None = None,
    n_salt: int | None = None,
    probe_salt_key: str | None = None,
    broadcast_limit: int = BROADCAST_ROW_LIMIT,
    hot_min: int = HOT_CELL_MIN_ROWS,
) -> DataFrame:
    """Equi-join probe and build on (cell_x, cell_y) then apply exact refine.

    ``refine`` is a Column predicate (or SQL string) evaluated after the cell
    match — the distributed analogue of the reference's bbox-then-exact filter
    pair (GT/transformation/GXTSimpleFeatureCollection.java:73-76).

    Both inputs must already carry cell_x/cell_y (see cells.py). Column-name
    overlap other than the cell keys must be resolved by the caller.
    On the shuffle path, ``choose_strategy`` auto-escalates to salted when
    the probe's memoized top-cell pre-count crosses the hot-cell threshold;
    ``n_salt`` (when given) overrides the plan's auto-sized salt width.
    """
    plan = choose_strategy(
        build, strategy, broadcast_limit=broadcast_limit, probe=probe,
        hot_min=hot_min,
    )
    if isinstance(refine, str):
        refine = F.expr(refine)

    if plan.strategy == "broadcast":
        return probe.join(
            F.broadcast(build), on=["cell_x", "cell_y"], how="inner"
        ).where(refine)

    if plan.strategy == "salted":
        n_salt = n_salt or plan.n_salt
        key = probe_salt_key or probe.columns[0]
        salted_probe = probe.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col(key)), F.lit(n_salt)).cast("int")
        )
        salted_build = build.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
        )
        return (
            salted_probe.join(
                salted_build, on=["cell_x", "cell_y", "_salt"], how="inner"
            )
            .where(refine)
            .drop("_salt")
        )

    return probe.join(build, on=["cell_x", "cell_y"], how="inner").where(refine)
