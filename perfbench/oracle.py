"""Untimed output check of a run against DuckDB over the same inputs.

Each query's output, projected like the query registry projects it, is
written to parquet by Spark. DuckDB reads it back next to the query's
oracle SQL over the very parquet inputs the run generated (the replicated
layers are rebuilt with the same SQL text), and both sides are compared on
the sampled keys: row count, column names and the order-free value hash of
``tools/check_oracle.py``. The WebDataset export is read back with
``tarfile`` and compared with the source rows and the closed-form pixel
generator.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import tarfile

import duckdb
import numpy as np
import pandas as pd

from inputs import REPLICATED_SQL
from opengxt_spark import raster

_LAYER_TABLE = {"points_events": "events", "points_part": "part"}


def _table_hash():
    tools = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    from check_oracle import table_hash

    return table_hash


def connect(b) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {b.cores}")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{os.path.join(b.work, 'duck')}'")
    for table, path in b.paths.items():
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    for layer, table in _LAYER_TABLE.items():
        if table in b.paths:
            con.execute(f"CREATE VIEW {layer}_rep AS {REPLICATED_SQL[layer]}")
    ids = b.W.draw_sample(b.args.seed, b.paths, b.wl)
    con.register("sample_df", pd.DataFrame({"id": np.array(ids, dtype=np.int64)}))
    con.execute("CREATE TABLE sample AS SELECT * FROM sample_df")
    return con


def compare(con, spark_dir: str, key: str, sql: str, table_hash) -> str:
    where = f"WHERE {key} IN (SELECT id FROM sample)"
    cur = con.execute(f"SELECT * FROM read_parquet('{spark_dir}/*.parquet') {where}")
    scols = [d[0] for d in cur.description]
    srows = cur.fetchall()
    cur = con.execute(f"SELECT * FROM ({sql}) {where}")
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()
    if not srows:
        return "empty output"
    if sorted(scols) != sorted(ocols):
        return f"columns {sorted(scols)} vs {sorted(ocols)}"
    if len(srows) != len(orows):
        return f"rows {len(srows)} vs {len(orows)}"
    sh, oh = table_hash(scols, srows), table_hash(ocols, orows)
    return "ok" if sh == oh else f"hash {sh} vs {oh}"


def check_wds(out_dir: str | None, con) -> str:
    """Every source image appears once in the shards, with its metadata
    and the closed-form rgb8 payload ((okey*31 + 7*i) mod 256)."""
    if not out_dir or not os.path.isdir(out_dir):
        return "no export"
    src = con.execute(
        "SELECT image_id, okey, w, h, fmt, caption FROM "
        f"({raster.IMAGES_META_SQL_DUCK})").fetchall()
    want = {r[0]: r[1:] for r in src}
    got: dict[str, dict] = {}
    for path in sorted(glob.glob(os.path.join(out_dir, "*.tar"))):
        with tarfile.open(path) as tf:
            for m in tf:
                stem, ext = m.name.rsplit(".", 1)
                data = tf.extractfile(m).read()
                rec = got.setdefault(stem, {})
                key = "meta" if ext == "json" else "payload"
                if key in rec:
                    return f"duplicate member {m.name}"
                rec[key] = json.loads(data) if key == "meta" else data
    if set(got) != set(want):
        return f"images {len(got)} exported vs {len(want)} source"
    for image_id, (okey, w, h, fmt, caption) in want.items():
        rec = got[image_id]
        meta = rec.get("meta")
        if meta != {"okey": okey, "w": w, "h": h, "fmt": fmt,
                    "caption": caption}:
            return f"metadata of {image_id}: {meta}"
        i = np.arange(w * h * 3, dtype=np.int64)
        pixels = ((okey * 31 + i * 7) % 256).astype(np.uint8).tobytes()
        if rec.get("payload") != pixels:
            return f"payload of {image_id}"
    return "ok"


def run_checks(b) -> dict[str, str]:
    """{query: 'ok' | reason} for every query of the run's workload."""
    table_hash = _table_hash()
    con = connect(b)
    try:
        verdicts = {}
        for q in b.wl.queries:
            if q.check is None:
                continue
            out = os.path.join(b.work, "check", q.name)
            try:
                sdf, sql = q.check(b.ins)
                sdf.write.mode("overwrite").parquet(out)
                b.joins.release_scratch()
                verdicts[q.name] = compare(con, out, q.key, sql, table_hash)
            except Exception as e:  # a check that cannot run is a failure
                verdicts[q.name] = f"error: {e!r}"[:500]
                b.joins.release_scratch()
        if b.wl.name == "image-export":
            verdicts["wds_write"] = check_wds(b.wds.last, con)
        return verdicts
    finally:
        con.close()
