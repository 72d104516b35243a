"""sf1.0-class oracle spot-sweep: the 20 heaviest entries of the sf0.1
sweep, re-verified differentially at ~10× the data (`.testdata_sf1`,
built by make_bigsf.py from the driver's sf0.1 tables — 6M lineitem /
1M events / 50k documents rows).

Heaviest-20 is taken from the committed SWEEP_sf0.1.log. Three entries
whose oracles were rewritten into linear ASOF/RANGE-frame forms are
appended explicitly: the point is to prove those oracle forms at scale
even when they no longer rank.

Writes SWEEP_sf1_spot.log (committed); exits non-zero on any mismatch.
Usage: python spot_sweep_sf1.py
"""

from __future__ import annotations

import os
import re
import sys

from sweep_oracles import REPO, sweep

from numalogic_prometheus_spark import plans
from numalogic_prometheus_spark.session import get_session

SF_DIR = os.path.join(REPO, ".testdata_sf1")
N_HEAVIEST = 20
# the rewritten oracle forms, proven at scale regardless of rank
ALWAYS = (
    "ts_linear_interpolate",
    "promql_mad_over_time",
    "promql_quantile_over_time_sliding",
)


def heaviest(n: int) -> list[str]:
    with open(os.path.join(REPO, "SWEEP_sf0.1.log")) as f:
        by_time = [
            (float(m.group(2)), m.group(1))
            for m in re.finditer(r"^PASS (\S+) ([0-9.]+)s", f.read(), re.M)
        ]
    return [name for _, name in sorted(by_time, reverse=True)[:n]]


def main() -> None:
    os.environ.setdefault("SPARK_DRIVER_MEM", "12g")
    spark = get_session(app_name="spot-sweep-sf1")
    names = list(dict.fromkeys(heaviest(N_HEAVIEST) + list(ALWAYS)))
    header = (
        f"# sf1.0-class spot sweep at {SF_DIR} "
        f"({len(names)} heaviest entries, 10x-replicated sf0.1)\n"
    )
    _, bad = sweep(spark, SF_DIR, names, plans.all_queries(), plans.all_oracles(),
                   os.path.join(REPO, "SWEEP_sf1_spot.log"), header)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
