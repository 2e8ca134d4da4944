"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload ring-knn --seed 1 --seconds 4 --trace 0

Load is a closed loop with one client: this process submits each query only
after the previous one has finished, on ``local[<cores>]``. After set-up it
runs one cold pass over the workload's queries, then steady passes until
``--seconds`` have gone by and at least MIN_STEADY_PASSES are done. In every pass each query's plan is built from
scratch, executed to the ``noop`` sink, and ``joins.release_scratch()`` runs
before the next query. After the timed passes one untimed check compares
each query's output with its DuckDB oracle over the same generated inputs.

The last line of stdout is the result object; the line before it carries the
run's details (host settings, densities, pass quartiles, per-query times and,
in a traced run, the strategy and layer numbers of each query).
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: A run must end within this many seconds, set-up and check included.
DEADLINE_S = 170
#: Steady passes stop being added once this much of the deadline is used.
PASS_CUTOFF_S = 120
MIN_STEADY_PASSES = 5
#: Input generations per run; setup_s reports their median.
SETUP_REPEATS = 3
#: Driver heap cap; the largest workload peaks well under 1 GiB.
MAX_HEAP_MB = 2048


def host_settings(work: str) -> dict[str, str]:
    """Session settings from this host, applied through the environment
    overrides the engine already reads. The probe cache is a fresh file per
    run, so the cold pass never reuses probes from earlier processes."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f
                        if line.startswith("MemTotal:"))
    heap_mb = min(MAX_HEAP_MB, total_kb // 1024 // 4)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    settings = {
        "SPARK_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "OPENGXT_PROBE_CACHE": os.path.join(work, "probes.json"),
        "SPARK_GRAFT_PRETOUCH": "0",
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": java_opts,
    }
    os.environ.update(settings)
    settings["host_mem_total_mb"] = str(total_kb // 1024)
    return settings


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


class Stopped(BaseException):
    """The run hit its deadline or was asked to stop. A BaseException, so
    the per-query error handling does not swallow it."""


def _stop(signum, frame):
    raise Stopped(f"signal {signum} after {time.perf_counter() - T_PROCESS:.0f} s")


class Bench:
    """One run: set-up, the cold pass, steady passes, the check."""

    def __init__(self, args, work: str, settings: dict):
        import workloads as W
        from opengxt_spark import joins, planner
        from opengxt_spark.session import get_spark

        self.W, self.joins, self.planner = W, joins, planner
        self.args, self.work, self.settings = args, work, settings
        self.wds = W.WdsSink(os.path.join(work, "out"))
        self.wl = W.make_workloads(self.wds)[args.workload]
        self.cores = int(settings["SPARK_GRAFT_CPUS"])
        self.attempted = 0
        self.errors: dict[str, list[str]] = {}
        self.per_query: dict[str, list[tuple[float, float]]] = {}

        self.spark = get_spark("perfbench")
        self.session_s = time.perf_counter() - T_PROCESS
        self.tracer = None
        if args.trace:
            from telemetry import Tracer

            self.tracer = Tracer(self.spark, T_PROCESS)

    # -- set-up --------------------------------------------------------------

    def setup(self) -> None:
        from inputs import write_base_tables

        W = self.W
        times, self.ins = [], None
        for i in range(SETUP_REPEATS):
            if self.ins is not None:
                W.release_inputs(self.ins)
                shutil.rmtree(self.input_dir, ignore_errors=True)
            self.input_dir = os.path.join(self.work, f"inputs-{i}")
            t0 = time.perf_counter()
            self.paths = write_base_tables(
                self.input_dir, self.args.seed, self.wl.sizes)
            W.register_views(self.spark, self.paths)
            self.planner.set_source_epoch(self.input_dir)
            self.ins = W.load_inputs(self.spark, self.wl)
            times.append(time.perf_counter() - t0)
        self.inputs_s = statistics.median(times)
        self.inputs_times = times
        self.setup_s = self.session_s + self.inputs_s

    # -- passes --------------------------------------------------------------

    def run_pass(self, idx: int, traced: bool) -> tuple[float, dict]:
        """One pass over the workload's queries; returns (wall, layers)."""
        tr = self.tracer if traced else None
        layers: dict[str, dict] = {}
        if tr:
            tr.skip_executions()
            gc0 = tr.gc_seconds()
            tr.reset_heap_peak()
            if idx == 0:
                tr.install_probe_spans()
        t_pass = time.perf_counter()
        for q in self.wl.queries:
            qid = f"{idx}:{q.name}"
            self.attempted += 1
            try:
                if tr:
                    layers[q.name] = self._traced_query(tr, qid, q)
                else:
                    self._query(q)
            except Exception as e:  # a failed query is counted, not fatal
                self.errors.setdefault(q.name, []).append(f"{qid}: {e!r}"[:500])
                self.joins.release_scratch()
        wall = time.perf_counter() - t_pass
        if tr:
            if idx == 0:
                tr.remove_probe_spans()
            tot = self._sum_layers(layers, wall)
            tot["jvm.gc_s"] = tr.gc_seconds() - gc0
            tot["jvm.heap_peak_mb"] = tr.heap_peak_mb()
            layers["_pass"] = tot
        return wall, layers

    def _query(self, q) -> None:
        t0 = time.perf_counter()
        df = q.build(self.ins)
        t1 = time.perf_counter()
        q.run(df)
        t2 = time.perf_counter()
        del df
        self.joins.release_scratch()
        gc.collect()
        self.per_query.setdefault(q.name, []).append((t1 - t0, t2 - t1))

    def _traced_query(self, tr, qid: str, q) -> dict:
        tr.begin_query(qid)
        p0 = self.planner.probe_seconds()
        with tr.span("query"):
            with tr.span("build", group="build") as b:
                df = q.build(self.ins)
            scratch = tr.scratch_rdds()
            with tr.span("exec", group="exec") as e:
                q.run(df)
            del df
            with tr.span("release") as r:
                self.joins.release_scratch()
            gc.collect()
        build_s, exec_s = b["end"] - b["start"], e["end"] - e["start"]
        self.per_query.setdefault(q.name, []).append((build_s, exec_s))
        m = tr.end_query(build_s, exec_s, r["end"] - r["start"], scratch,
                         self.planner.probe_seconds() - p0)
        if q.name == "wds_write":
            m["wds.write_s"] = build_s + exec_s
            files = os.listdir(self.wds.last)
            m["wds.shards"] = sum(f.endswith(".tar") for f in files)
            m["wds.bytes_written"] = sum(
                os.path.getsize(os.path.join(self.wds.last, f))
                for f in files if f.endswith(".tar"))
        return m

    def _sum_layers(self, layers: dict, wall: float) -> dict:
        from telemetry import SUMMED

        tot = {k: sum(m.get(k, 0.0) for m in layers.values()) for k in SUMMED}
        tot["agg.peak_mem_mb"] = max(
            [m.get("agg.peak_mem_mb", 0.0) for m in layers.values()] or [0.0])
        cand = tot["join.candidate_rows"]
        tot["join.refine_ratio"] = tot["join.refine_rows"] / cand if cand else 0.0
        tot["tasks.busy_ratio"] = tot["tasks.run_s"] / (self.cores * wall)
        return tot

    def passes(self) -> None:
        """The cold pass, then steady passes until ``--seconds`` have gone by
        and at least MIN_STEADY_PASSES are done. A traced run interleaves
        untraced and traced steady passes in ABBA order, so JIT warm-up
        drift does not bias the tracing overhead."""
        traced = self.tracer is not None
        self.first_pass_s, self.first_layers = self.run_pass(0, traced)
        self.steady: list[float] = []
        self.traced_steady: list[float] = []
        self.traced_layers: list[dict] = []
        t0, idx = time.perf_counter(), 1
        while True:
            n = len(self.steady) + len(self.traced_steady)
            done = (time.perf_counter() - t0 >= self.args.seconds
                    and n >= MIN_STEADY_PASSES)
            late = time.perf_counter() - T_PROCESS > PASS_CUTOFF_S
            if traced:
                done = done and n % 4 == 0
                late = late and len(self.traced_steady) > 0
            if self.steady and (done or late):
                break
            use_trace = traced and idx % 4 in (2, 3)
            wall, layers = self.run_pass(idx, use_trace)
            if use_trace:
                self.traced_steady.append(wall)
                self.traced_layers.append(layers)
            else:
                self.steady.append(wall)
            idx += 1

    # -- check ---------------------------------------------------------------

    def check(self) -> dict[str, str]:
        """Untimed output check; returns {query: 'ok' | reason}."""
        from oracle import run_checks

        return run_checks(self)

    # -- result --------------------------------------------------------------

    def result(self, verdicts: dict[str, str]) -> tuple[dict, dict]:
        W, wl = self.W, self.wl
        # A query whose output is wrong was wrong in every execution.
        wrong = {q for q, v in verdicts.items() if v != "ok"}
        n_runs = 1 + len(self.steady) + len(self.traced_steady)
        failed = sum(n_runs if q.name in wrong else len(self.errors.get(q.name, []))
                     for q in wl.queries)
        q1, med, q3 = quartiles(self.steady)
        rows = W.input_rows(wl)
        detail = {
            "workload": wl.name,
            "seed": self.args.seed,
            "settings": self.settings,
            "sizes": vars(wl.sizes),
            "points_per_unit_area": W.densities(wl),
            "input_rows": rows,
            "load": f"closed loop, 1 client, local[{self.cores}]",
            "pass_s": {"median": med, "q1": q1, "q3": q3,
                       "passes": len(self.steady), "all": self.steady},
            "setup_inputs_s": self.inputs_times,
            "session_start_s": self.session_s,
            "queries": {
                name: {"build_s": statistics.median(b for b, _ in v),
                       "exec_s": statistics.median(e for _, e in v),
                       "runs": len(v)}
                for name, v in self.per_query.items()
            },
            "check": verdicts,
            "errors": self.errors,
        }
        if self.tracer:
            metrics, per_query = self.layer_metrics(rows)
            detail["per_query_layers"] = per_query
            detail["trace_file"] = self.write_trace(detail)
        else:
            metrics = {
                "setup_s": (self.setup_s, "s"),
                "first_pass_s": (self.first_pass_s, "s"),
                "pass_s": (med, "s"),
                "rows_per_s": (rows * len(wl.queries) / med, "rows/s"),
                "ok_ratio": ((self.attempted - failed) / self.attempted,
                             "ratio"),
            }
        out = {
            "correct": not wrong and not self.errors,
            "attempted": self.attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }
        return detail, out

    def layer_metrics(self, rows: int) -> tuple[dict, dict]:
        """Per-layer metrics of the traced run: planner numbers from the
        cold pass (steady passes hit the probe memo), everything else the
        median over traced steady passes of the per-pass sums."""
        from telemetry import LAYER_METRICS

        cold = self.first_layers["_pass"]
        passes = [p["_pass"] for p in self.traced_layers]
        traced = statistics.median(self.traced_steady)
        plain = statistics.median(self.steady)
        values = {
            "session.start_s": self.session_s,
            "world.inputs_s": self.inputs_s,
            "world.input_rows": float(rows),
            "trace.pass_s": traced,
            "trace.overhead_s": traced - plain,
            "trace.overhead_ratio": (traced - plain) / plain,
        }
        m: dict[str, tuple[float, str]] = {}
        for name, (unit, _) in LAYER_METRICS.items():
            if name not in values:
                src = [cold] if name.startswith("planner.") else passes
                values[name] = statistics.median(p[name] for p in src)
            m[name] = (values[name], unit)
        last = self.traced_layers[-1]
        per_query = {q: dict(layers) for q, layers in last.items()
                     if q != "_pass"}
        for q, layers in self.first_layers.items():
            if q != "_pass":
                per_query.setdefault(q, {})["cold_strategy"] = layers["strategy"]
                per_query[q]["cold_probe_s"] = layers["planner.probe_s"]
                per_query[q]["cold_probe_jobs"] = layers["planner.probe_jobs"]
        return m, per_query

    def write_trace(self, detail: dict) -> str:
        out_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(
            out_dir, f"{self.wl.name}-seed{self.args.seed}-{os.getpid()}.json")
        with open(path, "w") as f:
            json.dump({"detail": detail, "spans": self.tracer.spans,
                       "cold_pass_layers": self.first_layers,
                       "traced_pass_layers": self.traced_layers}, f)
        return os.path.relpath(path, ROOT)

    def close(self) -> None:
        """Stop Spark and wait for its JVM to exit."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        try:
            self.spark.stop()
        except Exception as e:  # an interrupt can leave the gateway broken
            print(f"perfbench: spark.stop failed: {e!r}", file=sys.stderr)
        finally:
            if gw is not None:
                proc = getattr(gw, "proc", None)
                gw.shutdown()
                if proc is not None:
                    try:
                        proc.stdin.close()
                        proc.wait(timeout=20)
                    except Exception:
                        proc.kill()
                        proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "opengxt_spark")):
        print(f"perfbench: no opengxt_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    settings = host_settings(work)

    import workloads

    if args.workload not in workloads.make_workloads(None):
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    cpu0 = cpu_times()
    signal.signal(signal.SIGALRM, _stop)
    signal.signal(signal.SIGTERM, _stop)
    signal.alarm(DEADLINE_S)
    bench = None
    try:
        bench = Bench(args, work, settings)
        bench.setup()
        bench.passes()
        t_check = time.perf_counter()
        verdicts = bench.check()
        detail, out = bench.result(verdicts)
        detail["check_s"] = time.perf_counter() - t_check
    finally:
        signal.alarm(0)
        try:
            if bench is not None:
                bench.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    detail["process_s"] = time.perf_counter() - T_PROCESS
    cpu = [b - a for a, b in zip(cpu0, cpu_times())]
    # Share of CPU time the hypervisor gave to other guests during the run.
    detail["host_steal_ratio"] = cpu[7] / max(sum(cpu), 1)
    print(json.dumps(detail))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
