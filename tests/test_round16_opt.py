"""Round-16 optimization pins.

- The shuffled-hash-join session config (r15) trades sort-merge's
  graceful spill for a hash build that cannot spill; VERDICT r15
  item 9 asks for a pin that a deliberately skewed build side either
  falls back to sort-merge or completes within memory bounds.
- The r16 chain rewrite and Lloyd restructure carry their own pins in
  test_plan_hygiene.py / test_semdedup_ivf.py.
"""
import pytest
from pyspark.sql import functions as F


def test_shj_skewed_build_side_completes_or_falls_back(spark):
    """A shuffled hash join whose build side is heavily skewed (one
    key owns ~90% of the rows) must complete with correct results —
    the §5 spill-vs-OOM trade the preferSortMergeJoin=false session
    config accepts. A ``shuffle_hash`` hint on the build side forces
    the strategy under test (left to the planner, this small probe
    side is broadcast instead); the final executed plan must still
    hold the ShuffledHashJoin after AQE re-planning."""
    n_hot, n_cold = 200_000, 10_000
    # build side: 90%+ of rows share key 7
    build = spark.range(n_hot).select(
        F.lit(7).alias("k"), (F.col("id") % 1000).alias("payload")
    ).unionByName(
        spark.range(n_cold).select(
            (F.col("id") % 97 + 100).cast("long").alias("k"),
            (F.col("id") % 1000).alias("payload"))
    )
    probe = spark.range(500).select(
        (F.col("id") % 120).alias("k"),
        F.col("id").alias("pid"))
    counts = probe.join(build.hint("shuffle_hash"), "k").groupBy("k").count()
    got = counts.collect()
    by_k = {r["k"]: r["count"] for r in got}
    # key 7 matches every hot row for each probe hit of k=7
    probe_hits_7 = 500 // 120 + (1 if 7 < 500 % 120 else 0)
    assert by_k[7] == n_hot * probe_hits_7
    plan = counts._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan and "ShuffledHashJoin" in plan, plan


def test_shj_config_active_in_session(spark):
    assert spark.conf.get("spark.sql.join.preferSortMergeJoin") == "false"
    assert spark.conf.get(
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"
    ) == str(64 * 1024 * 1024)


def test_python_workers_blas_single_threaded(spark):
    """The executorEnv BLAS pin (VERDICT r15 item 3) must reach the
    forked Python workers — one BLAS thread per worker, one worker
    per core."""
    def probe(it):
        import os

        import pandas as pd
        for pdf in it:
            yield pd.DataFrame(
                {"v": [os.environ.get("OPENBLAS_NUM_THREADS", "unset")]})

    vals = {r["v"] for r in
            spark.range(0, 4, 1, 4).mapInPandas(probe, "v string").collect()}
    assert vals == {"1"}, vals
