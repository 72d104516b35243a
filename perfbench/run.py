"""Benchmark of the engine, run against the package from outside.

    python3 perfbench/run.py --workload python_seam --seed 1 --seconds 10 --trace 0

Workloads (BENCHMARK.json records why each was chosen):

- ``python_seam``: passes over a list of registered queries, each built
  with ``plans.all_queries()[name](spark, dir)`` and forced through the
  ``noop`` sink. The seed permutes the query order of every pass.
- ``stream_ingest`` (``stream.py``): seeded, time-ordered 1000-event
  parquet slices land in a directory streamed by
  ``streaming.stream_events`` into ``stateful_counter_increase`` and
  published to ``/metrics`` by ``ExpositionServer.foreach_batch``.

A memory process samples the run's process tree (``observer.py``); on
``stream_ingest`` a scraper process also reads ``/metrics`` at a fixed
rate.
The tables are generated inside the checkout (``gen.py``) before the
clock starts. ``--trace 0`` prints the end-to-end metrics, ``--trace 1``
the per-layer metrics (``tracing.py``); both first print a
``perfbench-detail`` line with everything measured and the
configuration, then the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--record`` rewrites ``expected.json`` (output fingerprints of the batch
queries) from the current code instead of measuring.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

from harness import log
from observer import Observer
from tracing import EXEC_STAGE_KEYS

PROCESS_START = time.perf_counter()

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
EXPECTED = BENCH_DIR / "expected.json"

SCALE = 0.01  # table scale factor (TPC-H style; lineitem = 6M * SCALE rows)
CPUS = 4  # local[4]
DRIVER_MEM = "1g"  # get_session's 16g default does not fit a 15 GB host
# Warm-up of the batch workloads: noop passes for at least WARM_MIN_S and
# until two in a row agree within WARM_SETTLED, but no longer than WARM_CAP_S.
WARM_MIN_S, WARM_CAP_S, WARM_SETTLED = 12.0, 16.0, 0.05

WORKLOADS = {
    "python_seam": [
        "multimodal_image_png_features",  # mapInPandas
        "promql_native_histogram_buckets",  # groupBy().applyInPandas
        "dedup_shingle_minhash_pairs",  # mapInArrow
        "udf_scalar_pandas_tanh",  # scalar pandas UDF
    ],
    "stream_ingest": [],
}

END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "latency_ms": "ms",
    "peak_rss_mb": "MB",
}
PER_LAYER_UNITS = {
    "session.build_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.sched_gap_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.wall_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.failed_tasks": "count",
    "exec.sched_gap_s": "s",
    "sources.input_rows": "rows",
    "sources.input_bytes": "B",
    "seam.py_start_s": "s",
    "seam.py_init_s": "s",
    "seam.py_run_s": "s",
    "seam.bytes_to_py": "B",
    "seam.bytes_from_py": "B",
    "seam.rows_from_py": "rows",
    "seam.worker_peak_mb": "MB",
    "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.latest_offset_ms": "ms",
    "stream.state_rows": "rows",
    "stream.state_mem_bytes": "B",
    "stream.state_commit_ms": "ms",
    "stream.drain_events_per_s": "events/s",
    "exposition.publish_ms": "ms",
    "exposition.payload_bytes": "B",
    "exposition.scrape_p50_ms": "ms",
    "exposition.scrape_p99_ms": "ms",
    "gen.late_max_ms": "ms",
    "gen.backlog_files": "files",
    "trace.overhead_frac": "ratio",
}



def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def geomean_of_medians(samples) -> float:
    """Operation latency of a workload: the geometric mean, over its
    distinct operations, of each operation's median latency. Queries of
    a pass differ by orders of magnitude, so a median over all samples
    would land in the gap between two queries."""
    return statistics.geometric_mean([statistics.median(s) for s in samples])


class Run:
    """State of one benchmark run: the session, the optional tracer and
    the operation counts."""

    def __init__(self, args, work: Path) -> None:
        import numpy as np

        self.args = args
        self.work = work
        self.data_dir = str(work / "tables")
        self.rng = np.random.default_rng(args.seed)
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {m: 0.0 for m in PER_LAYER_UNITS}
        self.spark = None
        self.tracer = None
        self.process_start = PROCESS_START
        self.cleanups = []  # called by close(), last first

    # -- set-up -----------------------------------------------------------
    def start_session(self) -> None:
        from numalogic_prometheus_spark.session import get_session

        t = time.perf_counter()
        self.spark = get_session(
            app_name="perfbench",
            extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'}"},
        )
        self.layers["session.build_s"] = time.perf_counter() - t
        if self.args.trace:
            from tracing import Tracer

            self.tracer = Tracer(self.spark)

    def close(self) -> None:
        while self.cleanups:
            self.cleanups.pop()()
        if self.spark is not None:
            stop_spark(self.spark)

    # -- batch workloads --------------------------------------------------
    def query_once(self, name: str, fn):
        """Build one query and force it through the noop sink. Returns
        (build_s, exec_s, layers or None); raises what the query raises."""
        tr = self.tracer
        w0, t0 = time.time(), time.perf_counter()
        gb = tr.group("build", name) if tr else None
        df = fn(self.spark, self.data_dir)
        w1, t1 = time.time(), time.perf_counter()
        ge = tr.group("exec", name) if tr else None
        df.write.format("noop").mode("overwrite").save()
        w2, t2 = time.time(), time.perf_counter()
        layers = None
        if tr:
            tr.clear_group()
            tr.settle()
            layers = {"plans.build_s": t1 - t0, "exec.wall_s": t2 - t1}
            b, e = tr.stages(gb, w0, w1), tr.stages(ge, w1, w2)
            layers["plans.build_jobs"] = b["jobs"]
            layers["plans.sched_gap_s"] = b["sched_gap_s"]
            for src, dst in EXEC_STAGE_KEYS.items():
                layers[dst] = e[src]
            layers["sources.input_rows"] = b["input_rows"] + e["input_rows"]
            layers["sources.input_bytes"] = b["input_bytes"] + e["input_bytes"]
            layers.update(tr.catalyst(df))
            layers.update(tr.seam())
        del df
        gc.collect()
        return t1 - t0, t2 - t1, layers

    def run_pass(self, names: list[str], queries, timed: bool):
        """One pass in a seeded order. Returns (pass seconds, per-query
        latencies by name, summed layers or None). Queries of timed passes
        count as operations."""
        order = [names[i] for i in self.rng.permutation(len(names))]
        total, lat, layers = 0.0, {}, None
        for name in order:
            self.attempted += int(timed)
            try:
                build_s, exec_s, q_layers = self.query_once(name, queries[name])
            except Exception as exc:  # a failing query is counted, the run goes on
                self.failed += int(timed)
                log(f"query {name} failed: {type(exc).__name__}: {str(exc)[:300]}")
                gc.collect()
                continue
            total += build_s + exec_s
            lat[name] = build_s + exec_s
            if q_layers is not None:
                layers = layers or {}
                for k, v in q_layers.items():
                    layers[k] = layers.get(k, 0.0) + v
        return total, lat, layers

    def verify_pass(self, names: list[str], queries) -> float:
        """Collect every output and check its row count and
        order-insensitive hash against ``expected.json``. Returns the
        pass time without the fingerprinting."""
        from harness import fingerprint, same_fingerprint

        want = json.loads(EXPECTED.read_text())[str(self.args.scale)]
        total = 0.0
        for name in names:
            self.attempted += 1
            try:
                t = time.perf_counter()
                df = queries[name](self.spark, self.data_dir)
                rows = df.collect()
                total += time.perf_counter() - t
                got = fingerprint(rows, df.columns)
                del df, rows
            except Exception as exc:
                self.failed += 1
                log(f"verify {name} failed: {type(exc).__name__}: {str(exc)[:300]}")
                continue
            finally:
                gc.collect()
            if name not in want or not same_fingerprint(got, want[name]):
                self.failed += 1
                log(f"verify {name}: fingerprint mismatch {got} != {want.get(name)}")
        return total

    def run_batch(self, names: list[str]) -> None:
        from numalogic_prometheus_spark import plans

        queries = plans.all_queries()
        self.start_session()
        # Warm-up, counted in setup_s: the cold pass, a pass that checks
        # every output (a collect, so it is not compared with the others),
        # then noop passes until the JIT and code caches stop speeding
        # them up.
        cold = self.run_pass(names, queries, timed=False)[0]
        verify = self.verify_pass(names, queries)
        warm, t_warm = [], time.perf_counter()
        while True:
            warm.append(self.run_pass(names, queries, timed=False)[0])
            spent = time.perf_counter() - t_warm
            if spent >= WARM_CAP_S:
                self.warm_capped = True
                break
            if spent >= WARM_MIN_S and len(warm) >= 2 and (
                    abs(warm[-1] - warm[-2]) <= WARM_SETTLED * warm[-2]):
                self.warm_capped = False
                break
        self.e2e["setup_s"] = time.perf_counter() - self.process_start - self.input_s
        self.warm_passes = [cold, verify] + warm
        log(f"t={time.perf_counter() - self.process_start:.1f} cold {cold:.3f} verify {verify:.3f} "
            f"warm {[round(w, 3) for w in warm]}{' (capped)' if self.warm_capped else ''}")

        tr = self.tracer
        if tr:
            tr.settle()
            tr.catalyst()
            tr.seam()
            tr.overhead_s = 0.0
        t_start = time.perf_counter()
        passes, lat, layer_passes = [], {}, []
        while not passes or time.perf_counter() - t_start < self.args.seconds:
            p, l, layers = self.run_pass(names, queries, timed=True)
            passes.append(p)
            for name, seconds in l.items():
                lat.setdefault(name, []).append(seconds)
            if layers is not None:
                layer_passes.append(layers)
        wall = time.perf_counter() - t_start
        log(f"t={time.perf_counter() - self.process_start:.1f} timed passes: {[round(p, 3) for p in passes]}")
        self.passes = passes
        self.e2e["pass_s"] = _median(passes)
        self.e2e["latency_ms"] = geomean_of_medians(lat.values()) * 1e3
        if tr:
            for k in layer_passes[0] if layer_passes else ():
                self.layers[k] = _median([lp.get(k, 0.0) for lp in layer_passes])
            self.layers["trace.overhead_frac"] = tr.overhead_s / wall

    # -- stream workload --------------------------------------------------
    def run_stream(self) -> None:
        from stream import StreamRun

        StreamRun(self).execute()


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _prepare_env(work: Path) -> None:
    """Pin everything the run depends on before pyspark is imported."""
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    # Python workers import the package by name; they do not inherit
    # sys.path, and the run's cwd is not the checkout root.
    prior = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + prior if prior else "")
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.chdir(work)
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(BENCH_DIR))


def record_expected(args, work: Path) -> None:
    """Rewrite expected.json's fingerprints for ``args.scale``."""
    from harness import fingerprint

    import gen
    from numalogic_prometheus_spark import plans
    from numalogic_prometheus_spark.session import get_session

    gen.write_tables(str(work / "tables"), args.scale)
    spark = get_session(app_name="perfbench-record")
    queries = plans.all_queries()
    names = [n for w in WORKLOADS.values() for n in w]
    fps = {}
    for name in names:
        df = queries[name](spark, str(work / "tables"))
        fps[name] = fingerprint(df.collect(), df.columns)
        del df
        gc.collect()
        log(f"recorded {name}: {fps[name]['rows']} rows")
    table = json.loads(EXPECTED.read_text()) if EXPECTED.exists() else {}
    table[str(args.scale)] = fps
    EXPECTED.write_text(json.dumps(table, indent=1, sort_keys=True) + "\n")
    stop_spark(spark)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=SCALE,
                    help="table scale factor (the self-check uses 0.001)")
    ap.add_argument("--record", action="store_true",
                    help="rewrite expected.json for --scale and exit")
    args = ap.parse_args(argv)
    if not args.record and args.workload is None:
        ap.error("--workload is required")

    if not (ROOT / "numalogic_prometheus_spark" / "__init__.py").is_file():
        log(f"no numalogic_prometheus_spark package under {ROOT}")
        return 2
    work = ROOT / ".perfbench_work" / f"{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    _prepare_env(work)
    memory = Observer("memory", str(os.getpid()))
    run = None
    try:
        if args.record:
            record_expected(args, work)
            return 0
        import gen

        run = Run(args, work)
        t = time.perf_counter()
        if args.workload == "stream_ingest":
            from stream import write_slices

            run.slices = write_slices(run)
        else:
            gen.write_tables(run.data_dir, args.scale)
        run.input_s = time.perf_counter() - t
        if args.workload == "stream_ingest":
            run.run_stream()
        else:
            run.run_batch(WORKLOADS[args.workload])
    finally:
        if run is not None:
            run.close()
        peaks = memory.finish()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass
    run.e2e["peak_rss_mb"] = peaks["peak_tree_bytes"] / 2 ** 20
    run.layers["seam.worker_peak_mb"] = peaks["peak_workers_bytes"] / 2 ** 20
    detail = {
        "config": {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "scale": args.scale, "cpus": CPUS,
            "spark_driver_memory": DRIVER_MEM,
            "queries": WORKLOADS[args.workload],
        },
        "warm_passes": getattr(run, "warm_passes", []),
        "warm_capped": getattr(run, "warm_capped", None),
        "passes": getattr(run, "passes", []),
        "stream": getattr(run, "stream_detail", {}),
        "end_to_end": run.e2e,
        "per_layer": run.layers,
    }
    print("perfbench-detail " + json.dumps(detail, sort_keys=True), flush=True)
    units = PER_LAYER_UNITS if args.trace else END_TO_END_UNITS
    values = run.layers if args.trace else run.e2e
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m: {"value": float(values[m]), "unit": u} for m, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
