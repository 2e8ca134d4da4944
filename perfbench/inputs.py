"""Seeded inputs for the benchmark.

The generator writes the base tables the synthetic world is derived from
(``events``, ``part``, ``orders``) as parquet, with ids and attribute values
drawn from the seed. Spatial layers then follow from ``world.LAYER_SQL``
exactly as in the query registry, and the point layers are replicated K
times: replica ``r`` re-keys each id by ``r * 2^24`` and shifts every point
by a seeded integer displacement (in 1/1000 world units, wrapped into the
same 1000 x 1000 world). Replicas therefore land in
the same world and the point density grows K times; it is reported per
workload, not assumed to be preserved.

The replication is one SQL text that runs unchanged in Spark (to build the
inputs the program receives) and in DuckDB (to build the oracle's inputs),
so both engines see bit-identical coordinates.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from opengxt_spark import world

#: Replica id offset. Raw ids stay below it, so replicated ids stay inside
#: knn_join's packed top-k budget (d2m_max * nextpow2(max_id) < 2^63).
REP_OFF = 1 << 24
MILLI = 1_000_000  # world extent in integer millicoordinates

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "share", "search"]


@dataclass(frozen=True)
class Sizes:
    """Base row counts (before replication) and the replica count."""

    events: int = 0
    part: int = 0
    orders: int = 0
    replicas: int = 1


def _ids(rng: np.random.Generator, n: int) -> np.ndarray:
    """n distinct ids in [1, REP_OFF), sorted."""
    return np.sort(rng.choice(REP_OFF - 1, size=n, replace=False) + 1).astype(
        np.int64
    )


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_base_tables(out_dir: str, seed: int, sizes: Sizes) -> dict[str, str]:
    """Write the seeded base tables and the replica displacement table;
    return {table: parquet path}. Tables with a zero count are skipped."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, pa.Table] = {}
    if sizes.events:
        n = sizes.events
        tables["events"] = pa.table({
            "event_id": _ids(rng, n),
            "event_type": rng.choice(_EVENT_TYPES, n),
            "value": _money(rng, n, 0.0, 1000.0),
        })
    if sizes.part:
        n = sizes.part
        tables["part"] = pa.table({
            "p_partkey": _ids(rng, n),
            "p_retailprice": _money(rng, n, 900.0, 2100.0),
        })
    if sizes.orders:
        n = sizes.orders
        tables["orders"] = pa.table({
            "o_orderkey": _ids(rng, n),
            "o_orderpriority": rng.choice(_PRIORITIES, n),
        })
    k = sizes.replicas
    tables["reps"] = pa.table({
        "r": np.arange(k, dtype=np.int64),
        "dx": rng.integers(0, MILLI, k, dtype=np.int64),
        "dy": rng.integers(0, MILLI, k, dtype=np.int64),
    })
    paths = {}
    for name, tbl in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, paths[name])
    return paths


def _shift(milli: str, d: str) -> str:
    return f"(CAST(({milli} + reps.{d}) % {MILLI} AS DOUBLE) / {world.dlit(1000.0)})"


#: Replicated layer SQL over the base-table views plus ``reps``. Text shared
#: by Spark and DuckDB; ``ix``/``iy`` stay consistent with the shifted x/y.
REPLICATED_SQL = {
    "points_events": (
        f"SELECT l.pid + reps.r * {REP_OFF} AS pid, "
        f"{_shift('l.ix', 'dx')} AS x, {_shift('l.iy', 'dy')} AS y, "
        f"(l.ix + reps.dx) % {MILLI} AS ix, (l.iy + reps.dy) % {MILLI} AS iy, "
        "l.w, l.val, l.cat "
        f"FROM ({world.POINTS_EVENTS_SQL}) l CROSS JOIN reps"
    ),
    "points_part": (
        f"SELECT l.pid + reps.r * {REP_OFF} AS pid, "
        f"{_shift('l.ix', 'dx')} AS x, {_shift('l.iy', 'dy')} AS y, "
        f"(l.ix + reps.dx) % {MILLI} AS ix, (l.iy + reps.dy) % {MILLI} AS iy, "
        "l.val "
        f"FROM ({world.POINTS_PART_SQL}) l CROSS JOIN reps"
    ),
}


def density(n_points: int) -> float:
    """True points per unit area of a layer spread over the 1000^2 world."""
    return n_points / (world.WORLD_SIZE * world.WORLD_SIZE)
