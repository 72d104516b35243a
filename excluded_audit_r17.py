"""Re-audit of the 12 entries HEADLINE_EXCLUDED gained in r16: they were
excluded on the evidence of one contended sf0.1 sweep window. This
script measures spark-side min-of-3 at sf0.1 for each excluded entry and
records, for every timed pass, the share of the machine's CPU that
processes outside this script's tree took (bench.external_share), so the
window's quality is part of the evidence. `quiet_window` is true iff
every entry has a pass at or under bench.EXTERNAL_SHARE_BOUND, the same
rule as the bench's `contended`.

Decision rule (bench.py's own 2 s threshold): an entry whose spark-side
min-of-3 exceeds 2 s belongs in HEADLINE. The audit prints a
`should_promote` list; an empty list on a quiet window means the
exclusions stand. Artifact: EXCLUDED_AUDIT_r17.json (committed).

Usage: python excluded_audit_r17.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import EXTERNAL_SHARE_BOUND, cpu_sample, external_share
from numalogic_prometheus_spark import plans
from numalogic_prometheus_spark.session import get_session

R16_EXCLUDED = (
    "profile_drift_halves",
    "promql_comparison_bool",
    "promql_increase_total",
    "promql_resets_changes",
    "promql_scalar_binop",
    "promql_sort_by_label",
    "subquery_scalar_above_avg",
    "text_bm25_topk",
    "text_boilerplate_segments",
    "text_quality_by_source",
    "text_simhash_signatures",
    "tpch_q9_product_profit",
)
PASSES = 3


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_DRIVER_MEM", "12g")
    spark = get_session(app_name="excluded_audit_r17")
    queries = plans.all_queries()
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    for name in R16_EXCLUDED:
        _noop(queries[name](spark, warm_dir))

    series: dict[str, list[float]] = {n: [] for n in R16_EXCLUDED}
    shares: dict[str, list[float]] = {n: [] for n in R16_EXCLUDED}
    for _ in range(PASSES):
        for name in R16_EXCLUDED:
            spark.catalog.clearCache()
            before = cpu_sample()
            t0 = time.perf_counter()
            _noop(queries[name](spark, sf_dir))
            took = time.perf_counter() - t0
            series[name].append(round(took, 4))
            shares[name].append(
                round(external_share(before, cpu_sample(), took), 3)
            )

    rows = {
        n: {"min": min(s), "series": s, "external_shares": shares[n]}
        for n, s in series.items()
    }
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "external_share_bound": EXTERNAL_SHARE_BOUND,
                "quiet_window": all(
                    min(s) <= EXTERNAL_SHARE_BOUND for s in shares.values()
                ),
                "entries": rows,
                "should_promote": sorted(
                    n for n, r in rows.items() if r["min"] > 2.0
                ),
                "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            }
        )
    )


if __name__ == "__main__":
    main()
