#!/usr/bin/env python
"""Round-16 budget-breach adjudication (VERDICT r15 brief #1).

BENCH_r15.json breached two budget lines: `nation_revenue` 0.655 s
(budget 0.63) and the cold `product_clusters` KMeans fit 5.008 s
(budget 4.87). This script re-measures exactly those two on a quiet
host: best-of-3 for nation_revenue (same protocol as bench.py), and
THREE genuinely-cold fits for product_clusters (cache evicted before
each) so a trend vs. one-off can be told apart. Prints one JSON line.

Decision rule (from the verdict): in band (<=0.55 s / <=4.2 s) ->
slow-host adjudication, rebase budgets to BENCH_r15 x 1.4 with a
variance-ledger note; out of band -> profile before touching budgets.
"""

from __future__ import annotations

import json
import os
import time

from data_warehouse_product_mix_clustering_spark.plans.registry import all_queries
from data_warehouse_product_mix_clustering_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    qs = all_queries()
    spark = get_spark(app_name="spot-bench-r16")
    spark.sparkContext.setLogLevel("ERROR")

    # Same warm-up as bench.py so numbers are comparable.
    _force(qs["pricing_summary"].fn(spark, SF_DIR))

    nation_runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        _force(qs["nation_revenue"].fn(spark, SF_DIR))
        nation_runs.append(round(time.perf_counter() - t0, 3))

    from data_warehouse_product_mix_clustering_spark.session import invalidate

    cold_runs = []
    for _ in range(3):
        invalidate(SF_DIR, kind="fit")
        t0 = time.perf_counter()
        _force(qs["product_clusters"].fn(spark, SF_DIR))
        cold_runs.append(round(time.perf_counter() - t0, 3))

    print(
        json.dumps(
            {
                "nation_revenue_runs": nation_runs,
                "nation_revenue_best": min(nation_runs),
                "product_clusters_cold_runs": cold_runs,
                "product_clusters_cold_best": min(cold_runs),
                "sf_dir": SF_DIR,
            }
        )
    )


if __name__ == "__main__":
    main()
