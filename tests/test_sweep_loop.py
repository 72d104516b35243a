"""The shared oracle-sweep loop (sweep_oracles.sweep) that the registry
sweep, the driver-window pre-flight and the two sf1 sweeps all call:
an oracle-backed entry goes through the DuckDB compare, a rows-only
entry through rows > 0, and a wrong oracle is reported as FAIL."""

from __future__ import annotations

from sweep_oracles import sweep

from numalogic_prometheus_spark import plans

NAMES = ["counter_hourly", "agg_approx_quantiles"]


def _lines(path):
    return path.read_text().splitlines()


def test_sweep_passes_oracle_backed_and_rows_only(spark, sf_dir, tmp_path):
    queries, oracles = plans.all_queries(), plans.all_oracles()
    assert "counter_hourly" in oracles and "agg_approx_quantiles" not in oracles
    log = tmp_path / "sweep.log"
    ok, bad = sweep(spark, sf_dir, NAMES, queries, oracles, log, header="# h\n")
    assert (ok, bad) == (2, 0)
    lines = _lines(log)
    assert lines[0] == "# h"
    assert lines[1].startswith("PASS counter_hourly ")
    assert lines[2].startswith("PASS agg_approx_quantiles ")
    assert "(rows-only, " in lines[2]
    assert lines[3].startswith("# 2/2 green, 0 mismatches")


def test_sweep_reports_a_wrong_oracle(spark, sf_dir, tmp_path):
    wrong = {"counter_hourly": "SELECT 1 AS user_id"}
    log = tmp_path / "sweep.log"
    ok, bad = sweep(spark, sf_dir, NAMES[:1], plans.all_queries(), wrong, log)
    assert (ok, bad) == (0, 1)
    lines = _lines(log)
    assert lines[0].startswith("FAIL counter_hourly ")
    assert lines[1].startswith("# 0/1 green, 1 mismatches")
