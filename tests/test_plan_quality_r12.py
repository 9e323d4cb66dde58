"""Plan-quality pins for the r12 optimization rewrites
(OPTIMIZATION_r12.md): shapes only — values are pinned by the oracle
ledgers (each rewrite is integer/decimal-exact by construction).
"""

from __future__ import annotations

import re

from tests.oracle_harness import plan_str

SF = "/root/testdata/sf0.001"


def test_weighted_median_no_fact_grain_cents_aggregate(spark):
    """r12: the (flag, cents) aggregation must not run at fact grain —
    cents of l_extendedprice are nearly unique per row, so that
    groupBy was a full-fact shuffle with no map-side combine. The only
    per-cent aggregate allowed is the pass-2 one, which runs AFTER the
    located-bucket broadcast join (its input carries `resid`)."""
    from airflow_baseball_spark.queries_mining import q_weighted_median

    plan = plan_str(q_weighted_median(spark, SF))
    # fact-grain form grouped on a derived cents expression
    assert "_groupingexpression" not in plan, (
        "fact-grain (flag, cents) aggregate is back in weighted_median"
    )
    # every (l_returnflag, pc) aggregate must sit above the located
    # join: its Input list carries resid
    blocks = re.split(r"\n\(\d+\) ", plan)
    for b in blocks:
        if re.match(r"HashAggregate", b) and re.search(
            r"Keys \[2\]: \[l_returnflag#\d+, pc#\d+L\]", b
        ):
            assert "resid#" in b, (
                "per-cent aggregate below the located join:\n" + b
            )
