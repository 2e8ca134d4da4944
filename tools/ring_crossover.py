"""Ring schedule vs single-phase crossover sweep for knn_join / nearest_join.

Times both physical paths of each ring join on the benchmark's ring-knn
inputs (perfbench/inputs.py) at growing replica counts: the in-radius pair
volume grows with the square of the replica count, so the sweep brackets
the pair volume where the ring starts to pay. Both paths are forced
through ``first_radius`` (``radius`` = single-phase, the gate's own ring
start radius = ring). Each cell is the median of ``--repeats`` timed runs
after one untimed warm-up; a run builds the plan, executes it to the noop
sink and releases the ring scratch. The last line is one JSON object.

    python tools/ring_crossover.py --replicas 8 16 32 --repeats 4

SINGLE_PHASE_PAIRS_PER_CORE (joins.py) should sit at or below the
crossover this prints, divided by the core count.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

from inputs import REPLICATED_SQL, Sizes, write_base_tables  # noqa: E402
from workloads import register_views  # noqa: E402

from opengxt_spark import joins, planner  # noqa: E402
from opengxt_spark.session import get_spark  # noqa: E402

QUERIES = {
    "knn_join_k4_r50": (50.0, 8.0, lambda l, r, fr: joins.knn_join(
        l, r, k=4, radius=50.0, exclude_self=False, mm_exact=True,
        first_radius=fr)),
    "nearest_join_r25": (25.0, 3.0, lambda l, r, fr: joins.nearest_join(
        l, r, radius=25.0, first_radius=fr)),
}


def _time(build, repeats: int) -> float:
    times = []
    for i in range(repeats + 1):
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        joins.release_scratch()
        if i:
            times.append(time.perf_counter() - t0)
    return statistics.median(times)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replicas", type=int, nargs="+", default=[8, 16, 32])
    ap.add_argument("--repeats", type=int, default=4)
    ap.add_argument("--seed", type=int, default=401)
    args = ap.parse_args()
    spark = get_spark("ring-crossover")
    par = spark.sparkContext.defaultParallelism
    rows = []
    with tempfile.TemporaryDirectory() as work:
        for reps in args.replicas:
            out = os.path.join(work, f"x{reps}")
            paths = write_base_tables(
                out, args.seed, Sizes(events=6_000, part=1_200, replicas=reps))
            register_views(spark, paths)
            planner.set_source_epoch(out)
            ev, pt = (spark.sql(REPLICATED_SQL[n]).repartition(par).persist()
                      for n in ("points_events", "points_part"))
            ev.count(), pt.count()
            for name, (radius, expected, q) in QUERIES.items():
                _, est, _ = joins.band_pair_estimate(ev, pt, radius)
                r1 = joins._adaptive_first_radius(pt, expected, radius)
                row = {
                    "query": name, "replicas": reps, "est_pairs": round(est),
                    "ring_s": _time(lambda: q(ev, pt, r1), args.repeats),
                    "single_s": _time(lambda: q(ev, pt, radius), args.repeats),
                }
                rows.append(row)
                print(row, flush=True)
            ev.unpersist(True)
            pt.unpersist(True)
    print(json.dumps({"cores": par, "rows": rows}))


if __name__ == "__main__":
    main()
