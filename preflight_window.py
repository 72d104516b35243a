"""Driver-window pre-flight: the first 50 queries() entries (the
driver's check window) through the driver-mimic compare on a VANILLA
(driver-shaped, Arrow-off) session. A window member whose correctness
depends on an engine-session conf must fail HERE, not in the driver.

Usage: python preflight_window.py [sf_dir]   (default /root/testdata/sf0.01)
"""
import sys

from sweep_oracles import build_vanilla_session, sweep

from numalogic_prometheus_spark import plans


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    q = plans.all_queries()
    _, bad = sweep(build_vanilla_session(), sf_dir, list(q)[:50], q, plans.all_oracles())
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
