"""Oracle parity sweep at an arbitrary scale factor: every oracle-backed
entry through the driver-mimic DuckDB compare (tests/oracle_harness.py:
row count, sorted columns, canonicalized value multiset) in ONE Spark
session. Usage:

    SPARK_GRAFT_SWEEP_SF_DIR=/root/testdata/sf0.1 python sweep_oracles.py [name ...]

Writes one line per entry to stdout and a committed log
(SWEEP_sf{sf}.log); exits non-zero on any mismatch. With names, runs
only those entries and appends to the log instead of rewriting it.

Vanilla-session mode:

    SPARK_GRAFT_SWEEP_VANILLA=1 SPARK_GRAFT_SWEEP_SF_DIR=... python sweep_oracles.py

builds the most vanilla session the driver contract allows (bare
``SparkSession.builder.master(local[N])`` plus shuffle partitions, NO
engine confs; only what ``sources.tables.load_table`` itself re-pins
applies), runs EVERY registered entry (oracle-backed through the DuckDB
compare, rows-only through a collect-count > 0 check, since the driver
checks rows-only entries too) and writes ``SWEEP_sf{sf}_vanilla.log``.
An entry whose correctness silently depends on an engine-session conf
fails here rather than in the driver."""

from __future__ import annotations

import os
import sys
import time
import traceback

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from numalogic_prometheus_spark import plans
from numalogic_prometheus_spark.session import get_session
from tests.oracle_harness import compare, run_oracle


def build_vanilla_session():
    """The driver-shaped session: master + shuffle partitions and NOTHING
    else — no Arrow, no AQE tweaks, no timezone/map-dedup/nanos confs
    (load_table re-pins the runtime invariants itself; anything a query
    needs beyond that is a latent driver failure)."""
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("sweep-vanilla")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    assert (
        spark.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "false"
    ), "vanilla sweep session unexpectedly has Arrow enabled"
    return spark


def sweep(spark, sf_dir, names, queries, oracles, log_path=None, header="",
          mode="w") -> tuple[int, int]:
    """Run each named entry at ``sf_dir``: compare it with its oracle in
    ``oracles`` when it has one, else require rows > 0. Prints one
    PASS/FAIL line per entry and a summary, mirrors them after ``header``
    into ``log_path`` (opened with ``mode``) and returns (ok, bad)."""
    ok = bad = 0
    t_all = time.perf_counter()
    with open(log_path or os.devnull, mode) as log:
        log.write(header)

        def emit(line: str) -> None:
            print(line, flush=True)
            log.write(line + "\n")
            log.flush()

        for name in names:
            t0 = time.perf_counter()
            try:
                df = queries[name](spark, sf_dir)
                if name in oracles:
                    compare(df, run_oracle(sf_dir, oracles[name]), name)
                    note = ""
                else:
                    n = len(df.collect())
                    if n == 0:  # explicit raise: assert dies under -O
                        raise ValueError(f"{name}: rows-only entry returned 0 rows")
                    note = f" (rows-only, {n} rows)"
                line = f"PASS {name} {time.perf_counter() - t0:.1f}s{note}"
                ok += 1
            except Exception as exc:  # noqa: BLE001
                traceback.print_exc()
                line = (
                    f"FAIL {name} {time.perf_counter() - t0:.1f}s "
                    f"{type(exc).__name__}: {str(exc)[:300]}"
                )
                bad += 1
            emit(line)
        emit(
            f"# {ok}/{ok + bad} green, {bad} mismatches, "
            f"{time.perf_counter() - t_all:.0f}s total"
        )
    return ok, bad


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SWEEP_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    os.environ.setdefault("SPARK_DRIVER_MEM", "12g")
    vanilla = os.environ.get("SPARK_GRAFT_SWEEP_VANILLA") == "1"
    spark = build_vanilla_session() if vanilla else get_session(app_name=f"sweep-sf{sf}")
    queries, oracles = plans.all_queries(), plans.all_oracles()
    only = sys.argv[1:]
    # The vanilla sweep covers the WHOLE registry: the driver checks
    # rows-only entries too (rows>0, no error).
    names = only or sorted(queries if vanilla else oracles)
    session_note = "vanilla driver-shaped session" if vanilla else "engine session"
    _, bad = sweep(
        spark, sf_dir, names, queries, oracles,
        log_path=os.path.join(REPO, f"SWEEP_sf{sf}{'_vanilla' if vanilla else ''}.log"),
        header=f"# oracle parity sweep at {sf_dir} ({len(names)} entries, "
        f"{session_note}{', appended run' if only else ''})\n",
        mode="a" if only else "w",
    )
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
