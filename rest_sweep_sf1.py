"""sf1.0-class oracle sweep, part 2 of 2: every oracle-backed entry NOT
already proven by the committed heaviest-21 spot sweep
(SWEEP_sf1_spot.log). Union of the two logs == the FULL registry
differential-verified at ~10x the driver's sf0.1 data
(.testdata_sf1, built by make_bigsf.py). Entries registered after the
spot sweep ran are picked up here because they are absent from its log.

Timing caveat: this run executes in the background of other work, so
per-entry seconds are contended and not comparable to the quiet-host
spot-sweep numbers; the artifact's claim is correctness (PASS/FAIL),
not latency.

Writes SWEEP_sf1_rest.log (committed); exits non-zero on any mismatch.
Usage: python rest_sweep_sf1.py [name ...]
With names, runs ONLY those entries and APPENDS to the log (the path
that picks up entries registered after the main run).
"""

from __future__ import annotations

import os
import re
import sys

from sweep_oracles import REPO, sweep

from numalogic_prometheus_spark import plans
from numalogic_prometheus_spark.session import get_session

SF_DIR = os.path.join(REPO, ".testdata_sf1")


def already_proven() -> set[str]:
    with open(os.path.join(REPO, "SWEEP_sf1_spot.log")) as f:
        return {m.group(1) for m in re.finditer(r"^PASS (\S+) ", f.read(), re.M)}


def main() -> None:
    os.environ.setdefault("SPARK_DRIVER_MEM", "12g")
    spark = get_session(app_name="rest-sweep-sf1")
    queries, oracles = plans.all_queries(), plans.all_oracles()
    only = sys.argv[1:]
    if only:
        names = [n for n in only if n in oracles]
        mode, header = "a", f"# appended run: {' '.join(names)}\n"
    else:
        done = already_proven()
        names = [n for n in sorted(oracles) if n not in done]
        mode, header = "w", (
            f"# sf1.0-class sweep part 2 at {SF_DIR}: {len(names)} "
            f"entries not in SWEEP_sf1_spot.log ({len(done)} already "
            "proven there); contended-background timings\n"
        )
    _, bad = sweep(spark, SF_DIR, names, queries, oracles,
                   os.path.join(REPO, "SWEEP_sf1_rest.log"), header, mode)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
