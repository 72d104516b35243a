"""The ``stream_ingest`` workload.

Chain: ``stream_events`` (file source, one file per micro-batch) ->
``stateful_counter_increase`` (applyInPandasWithState, state store plus
checkpoint) -> ``ExpositionServer.foreach_batch`` (per-batch publish of
the cumulative per-series increase to ``/metrics``) -> a fixed-rate
scraper.

Phases: warm-up files (counted in ``setup_s``), a closed drain phase with
the whole backlog landed at once (``pass_s`` is the median time from one
published micro-batch to the next, the inverse of the drain capacity) and
an open-loop phase of ``--seconds`` at a fixed rate, in which each file's
latency runs from the moment it was due to land to the end of the
``foreachBatch`` that published it (``latency_ms`` is their median). Each
file is one micro-batch: ``stream_events`` reads one file per trigger.
The scraper runs through the drain and open-loop phases.
"""

from __future__ import annotations

import bisect
import gc
import math
import os
import statistics
import threading
import time

import numpy as np
import pyarrow.parquet as pq

import gen
from harness import log, percentile
from observer import Observer, http_get
from tracing import EXEC_STAGE_KEYS

EVENTS_PER_FILE = 1000
WARM_FILES = 4  # cold batches, counted in setup_s
DRAIN_FILES = 6
OPEN_RATE = 0.35  # files/s, about half the drain capacity on 4 cores
SCRAPE_HZ = 10.0  # /metrics scrapes per second
USERS = 150

_DAY_US = 86_400_000_000
_MEAN_GAP_US = 259_000_000.0  # the events table's density at sf0.01
_FAMILY_INC = "perfbench_counter_increase_total"
_FAMILY_N = "perfbench_counter_samples_total"


def write_slices(run) -> dict:
    """Generate the run's events (seeded start time, ids and values) and
    stage one parquet file per slice, rows shuffled by the seed. Files
    land later by rename."""
    rng = run.rng
    n_open = max(2, math.ceil(run.args.seconds * OPEN_RATE))
    n_files = WARM_FILES + DRAIN_FILES + n_open
    per = EVENTS_PER_FILE
    start = gen.EPOCH_2024_US + int(rng.integers(0, 365)) * _DAY_US
    events = gen.events_table(rng, n_files * per, USERS,
                              start_us=start, mean_gap_us=_MEAN_GAP_US)
    staging = run.work / "staging"
    staging.mkdir()
    names, first_us = [], []
    ts_us = events.column("ts").cast("int64").to_numpy()
    for k in range(n_files):
        part = events.slice(k * per, per).take(rng.permutation(per))
        name = f"part-{k:05d}.parquet"
        pq.write_table(part, staging / name)
        names.append(name)
        first_us.append(int(ts_us[k * per]))
    return {"events": events, "names": names, "first_us": first_us}


def expected_counters(events) -> dict[str, tuple[int, int]]:
    """Batch recomputation of the published series: per event_type, the
    sum of reset-corrected increases of the mod-1000 cent counter and the
    number of samples that carry one (the first sample has no delta)."""
    df = events.select(["event_type", "ts", "event_id", "value"]).to_pandas()
    df["cents"] = np.floor(df["value"].to_numpy() * 100 + 0.5).astype("int64")
    out = {}
    for etype, g in df.sort_values(["ts", "event_id"]).groupby("event_type"):
        c = np.fmod(np.cumsum(g["cents"].to_numpy()), 1000)
        delta = c[1:] - c[:-1]
        inc = np.where(delta < 0, c[1:], delta)
        out[str(etype)] = (int(inc.sum()), len(inc))
    return out


def parse_scrape(body: bytes) -> dict[str, tuple[int, int]]:
    inc, n = {}, {}
    for line in body.decode().splitlines():
        if not line or line.startswith("#"):
            continue
        series, value = line.rsplit(" ", 1)
        family, labels = series.split("{", 1)
        etype = labels.split('"')[1]
        (inc if family == _FAMILY_INC else n)[etype] = int(value)
    return {k: (inc[k], n.get(k, -1)) for k in inc}


class StreamRun:
    def __init__(self, run) -> None:
        self.run = run
        self.src = run.work / "src"
        self.table_dir = self.src / "events.parquet"
        self.table_dir.mkdir(parents=True)
        self.staging = run.work / "staging"
        s = run.slices
        self.names, self.first_us = s["names"], s["first_us"]
        self.totals: dict[str, list[int]] = {}
        self.landed: dict[int, float] = {}  # file -> perf_counter at rename
        self.published: dict[int, float] = {}  # file -> end of its foreachBatch
        self.hook_s: dict[int, float] = {}
        self.batch_of: dict[int, int] = {}  # epoch -> file
        self.groups: dict[int, tuple[str, float, float]] = {}  # file -> job group, wall span
        self.executions: dict[int, object] = {}  # file -> its IncrementalExecution
        self.jquery = None
        self._cv = threading.Condition()
        self._last_mtime = 0
        self._current = -1

    # -- generator --------------------------------------------------------
    def land(self, k: int) -> None:
        """Atomic rename into the streamed directory. mtimes strictly
        increase so the file source takes the files in order."""
        name = self.names[k]
        src = self.staging / name
        t = max(time.time_ns(), self._last_mtime + 1_000_000)
        self._last_mtime = t
        os.utime(src, ns=(t, t))
        os.rename(src, self.table_dir / name)
        self.landed[k] = time.perf_counter()

    def wait_published(self, upto: int, timeout: float) -> bool:
        deadline = time.perf_counter() + timeout
        with self._cv:
            while len(self.published) < upto:
                left = deadline - time.perf_counter()
                if left <= 0:
                    return False
                self._cv.wait(left)
        return True

    # -- foreachBatch glue ------------------------------------------------
    def render(self, batch_df):
        from pyspark.sql import functions as F

        from numalogic_prometheus_spark.operators.metrics import exposition_lines

        rows = batch_df.groupBy("event_type").agg(
            F.sum("increase").alias("inc"),
            F.count(F.lit(1)).alias("n"),
            F.min(F.unix_micros("ts")).alias("t0"),
        ).collect()
        for r in rows:
            acc = self.totals.setdefault(r["event_type"], [0, 0])
            acc[0] += int(r["inc"])
            acc[1] += int(r["n"])
        if rows:
            self._current = bisect.bisect_right(self.first_us, min(r["t0"] for r in rows)) - 1
        spark = batch_df.sparkSession
        cum = spark.createDataFrame(
            [(k, v[0], v[1]) for k, v in sorted(self.totals.items())],
            "event_type string, inc long, n long",
        )
        return exposition_lines(cum, _FAMILY_INC, ["event_type"], "inc").unionByName(
            exposition_lines(cum, _FAMILY_N, ["event_type"], "n")
        )

    def make_hook(self):
        inner = self.server.foreach_batch(self.render)
        tr = self.run.tracer

        def hook(batch_df, epoch_id: int) -> None:
            gid = tr.group("batch", f"batch-{epoch_id}") if tr else None
            w0, t0 = time.time(), time.perf_counter()
            self._current = -1
            inner(batch_df, epoch_id)
            t1 = time.perf_counter()
            k = self._current
            if k < 0:
                return  # a batch without rows publishes nothing new
            self.batch_of[epoch_id] = k
            self.hook_s[k] = t1 - t0
            if tr:
                self.groups[k] = (gid, w0, time.time())
                if self.jquery is not None:
                    t2 = time.perf_counter()
                    self.executions[k] = self.jquery.lastExecution()
                    tr.overhead_s += time.perf_counter() - t2
            with self._cv:
                self.published[k] = t1
                self._cv.notify_all()

        return hook

    # -- phases -----------------------------------------------------------
    def execute(self) -> None:
        from pyspark.sql import functions as F

        from numalogic_prometheus_spark.streaming import stream_events
        from numalogic_prometheus_spark.streaming.exposition_http import ExpositionServer
        from numalogic_prometheus_spark.streaming.stateful import stateful_counter_increase

        run = self.run
        run.start_session()
        self.server = ExpositionServer().start()
        run.cleanups.append(self.server.stop)
        tr = run.tracer
        n_warm, n_drain = WARM_FILES, DRAIN_FILES
        # the source needs one file to take its schema from
        self.land(0)
        gid = tr.group("build", "stream") if tr else None
        w0, t0 = time.time(), time.perf_counter()
        ev = stream_events(run.spark, str(self.src))
        cents = ev.select(
            "event_type", "ts", "event_id",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        inc = stateful_counter_increase(cents.groupBy("event_type"))
        run.layers["plans.build_s"] = time.perf_counter() - t0
        if tr:
            tr.clear_group()
            tr.settle()
            run.layers["plans.build_jobs"] = tr.stages(gid, w0, time.time())["jobs"]
        query = (
            inc.writeStream.outputMode("append")
            .option("checkpointLocation", str(run.work / "checkpoint"))
            .foreachBatch(self.make_hook())
            .start()
        )
        self.jquery = query._jsq.streamingQuery()
        try:
            self._phases(query, n_warm, n_drain)
        finally:
            query.stop()
        self._verify(query)
        if tr:
            self._trace_layers(query)

    def _phases(self, query, n_warm: int, n_drain: int) -> None:
        run = self.run
        n_total = len(self.names)
        for k in range(1, n_warm):
            self.land(k)
        if not self.wait_published(n_warm, 120):
            raise RuntimeError(f"warm-up stalled: {query.exception()}")
        run.e2e["setup_s"] = time.perf_counter() - run.process_start - run.input_s

        scraper = Observer("scrape", self.server.url, str(SCRAPE_HZ))
        run.cleanups.append(scraper.kill)
        # closed loop: the whole backlog is there at once
        t_land = time.perf_counter()
        drain = range(n_warm, n_warm + n_drain)
        for k in drain:
            self.land(k)
        if not self.wait_published(n_warm + n_drain, 120):
            raise RuntimeError(f"drain stalled: {query.exception()}")
        ends = [t_land] + [self.published[k] for k in drain]
        per_batch = [b - a for a, b in zip(ends, ends[1:])]
        run.e2e["pass_s"] = statistics.median(per_batch)
        run.layers["stream.drain_events_per_s"] = EVENTS_PER_FILE / run.e2e["pass_s"]

        # open loop at a fixed rate
        if run.tracer:
            run.tracer.settle()
            run.tracer.catalyst()
            run.tracer.overhead_s = 0.0
        first_open = n_warm + n_drain
        t_start = time.perf_counter() + 0.05
        due = {}
        late = 0.0
        for j, k in enumerate(range(first_open, n_total)):
            due[k] = t_start + j / OPEN_RATE
            wait = due[k] - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            self.land(k)
            late = max(late, self.landed[k] - due[k])
        with self._cv:
            backlog = sum(1 for k in range(first_open, n_total - 1) if k not in self.published)
        ok = self.wait_published(n_total, 60)
        query.processAllAvailable()  # progress of the last batch is recorded
        wall = time.perf_counter() - t_start
        scrapes = scraper.finish()
        run.attempted += scrapes["attempted"]
        run.failed += scrapes["failed"]
        scrape_ms = [x * 1e3 for x in scrapes["latencies_s"]]
        run.layers["exposition.scrape_p50_ms"] = percentile(scrape_ms, 50)
        run.layers["exposition.scrape_p99_ms"] = percentile(scrape_ms, 99)
        run.layers["gen.backlog_files"] = float(backlog)
        run.layers["gen.late_max_ms"] = late * 1e3
        if not ok:
            raise RuntimeError(f"open loop stalled: {query.exception()}")
        lat = [(self.published[k] - due[k]) * 1e3 for k in range(first_open, n_total)]
        run.e2e["latency_ms"] = statistics.median(lat)
        run.layers["exposition.publish_ms"] = statistics.median(
            self.hook_s[k] for k in range(first_open, n_total)) * 1e3
        run.layers["exposition.payload_bytes"] = float(len(self.server.payload()))
        if run.tracer:
            run.layers["trace.overhead_frac"] = run.tracer.overhead_s / wall
        self._open = list(range(first_open, n_total))
        run.stream_detail = {
            "drain_batch_s": [round(x, 4) for x in per_batch],
            "open_latency_ms": [round(x, 1) for x in lat],
            "scrapes": scrapes["attempted"], "scrape_failed": scrapes["failed"],
            "backlog_files": backlog,
        }
        log(f"scrapes: {scrapes['attempted']} attempted, {scrapes['failed']} failed; "
            f"drain {run.stream_detail['drain_batch_s']}; open {run.stream_detail['open_latency_ms']}")

    def _verify(self, query) -> None:
        """Every generated row consumed, every file published once, and
        the final scrape equal to a batch recomputation over the files."""
        run = self.run
        n_files = len(self.names)
        run.attempted += n_files + 2
        run.failed += n_files - len(self.published)
        consumed = sum(p["numInputRows"] for p in query.recentProgress)
        generated = self.run.slices["events"].num_rows
        if consumed != generated:
            run.failed += 1
            log(f"stream consumed {consumed} rows of {generated}")
        status, body = http_get(self.server.url)
        want = expected_counters(self.run.slices["events"])
        if status != 200 or parse_scrape(body) != want:
            run.failed += 1
            log(f"final scrape {status} {body[:200]!r} != {want}")
        gc.collect()

    def _trace_layers(self, query) -> None:
        run, tr = self.run, self.run.tracer
        open_files = self._open
        file_epoch = {k: e for e, k in self.batch_of.items()}
        progress = {p["batchId"]: p for p in query.recentProgress}
        rows = [progress[file_epoch[k]] for k in open_files if file_epoch.get(k) in progress]

        def med(key: str) -> float:
            return statistics.median(float(p["durationMs"].get(key, 0)) for p in rows) if rows else 0.0

        run.layers["stream.trigger_ms"] = med("triggerExecution")
        run.layers["stream.add_batch_ms"] = med("addBatch")
        run.layers["stream.wal_commit_ms"] = med("walCommit")
        run.layers["stream.query_planning_ms"] = med("queryPlanning")
        run.layers["stream.latest_offset_ms"] = med("latestOffset")
        if rows and rows[-1]["stateOperators"]:
            last = rows[-1]["stateOperators"][0]
            run.layers["stream.state_rows"] = float(last["numRowsTotal"])
            run.layers["stream.state_mem_bytes"] = float(last["memoryUsedBytes"])
            run.layers["stream.state_commit_ms"] = statistics.median(
                float(p["stateOperators"][0]["commitTimeMs"]) for p in rows if p["stateOperators"])
        tr.settle()
        per_batch: list[dict[str, float]] = []
        seam: list[dict[str, float]] = []
        for k in open_files:
            gid, w0, w1 = self.groups[k]
            per_batch.append(tr.stages(gid, w0, w1))
            seam.append(tr.plan_seam(self.executions[k]))
        n = max(1, len(open_files))
        for src, dst in EXEC_STAGE_KEYS.items():
            run.layers[dst] = statistics.median(b[src] for b in per_batch)
        run.layers["sources.input_rows"] = statistics.median(b["input_rows"] for b in per_batch)
        run.layers["sources.input_bytes"] = statistics.median(b["input_bytes"] for b in per_batch)
        run.layers["exec.wall_s"] = statistics.median(self.hook_s[k] for k in open_files)
        for key in seam[0]:
            run.layers[key] = statistics.median(b[key] for b in seam)
        for key, total in tr.catalyst().items():
            run.layers[key] = total / n
