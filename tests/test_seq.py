"""assign_global_seq: bucketed parallel ranking must equal the naive
single-partition global rank, for any bucket size."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from distributed_web_scrapper_and_crawler_spark.plans.seq import assign_global_seq
from distributed_web_scrapper_and_crawler_spark.plans.state import local_table


@pytest.mark.parametrize("bucket_size", [1, 3, 4096])
def test_matches_global_rank(spark, bucket_size):
    import random

    rng = random.Random(9)
    rows = [(rng.randrange(0, 50), rng.randrange(0, 20), f"u{i}") for i in range(500)]
    # make order keys unique like real (parent_seq, pos) pairs
    rows = [(ps, i % 37, u) for i, (ps, _, u) in enumerate(rows)]
    # a JVM local relation, so any Python RDD in the plan below is seq's own
    df = local_table(spark, rows, T.StructType.fromDDL("parent_seq long, pos int, url string"))
    df = df.repartition(8)
    got, n = assign_global_seq(df, start=100, bucket_size=bucket_size)
    assert n == 500
    # the bucket offsets are a literal map: no offsets relation, no join
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "ExistingRDD" not in plan, plan
    naive = df.withColumn(
        "want", F.row_number().over(Window.orderBy("parent_seq", "pos")) + 99
    )
    joined = got.join(naive, ["parent_seq", "pos", "url"])
    assert joined.filter(F.col("seq") != F.col("want")).count() == 0


def test_empty_input(spark):
    df = spark.createDataFrame([], "parent_seq long, pos int")
    got, n = assign_global_seq(df, start=0)
    assert n == 0 and got.count() == 0


def test_per_partition_lineage_metrics(spark, tiny_corpus, tiny_seeds):
    """collect_partition_metrics=True records per-partition rows in the
    metrics table (the north rule's per-partition lineage; the engine
    analog of the reference's worker registry, SURVEY.md §1.1 row 4)."""
    from pyspark.sql import functions as F

    from distributed_web_scrapper_and_crawler_spark.config import CrawlConfig
    from distributed_web_scrapper_and_crawler_spark.plans.crawl import CrawlEngine

    eng = CrawlEngine(
        spark=spark, corpus=tiny_corpus, cfg=CrawlConfig(parity_mode=True, round_budget=32)
    )
    eng.seed(tiny_seeds)
    eng.run(max_rounds=2, collect_partition_metrics=True)
    m = eng.state.metrics
    agg_rows = m.filter(F.col("partition_id") == -1).count()
    part_rows = m.filter(F.col("partition_id") >= 0)
    assert agg_rows >= 2  # one aggregate row per round
    assert part_rows.count() > 0
    # per-partition link counts reconcile with the per-round aggregates
    per_round_sum = {
        r["round"]: r["s"]
        for r in part_rows.groupBy("round").agg(F.sum("links_new").alias("s")).collect()
    }
    agg = {
        r["round"]: r["links_new"]
        for r in m.filter(F.col("partition_id") == -1).collect()
    }
    for rnd, s in per_round_sum.items():
        assert s == agg[rnd]


def test_metrics_delta_is_local_table_scan(spark, tiny_corpus, tiny_seeds):
    """The round's one-row metrics delta is a JVM local relation, not a
    Python RDD that a Python worker unpickles on every write."""
    from distributed_web_scrapper_and_crawler_spark.config import CrawlConfig
    from distributed_web_scrapper_and_crawler_spark.plans.crawl import CrawlEngine
    from distributed_web_scrapper_and_crawler_spark.plans.round import run_round

    cfg = CrawlConfig(parity_mode=True, round_budget=32)
    eng = CrawlEngine(spark=spark, corpus=tiny_corpus, cfg=cfg)
    eng.seed(tiny_seeds)
    res = run_round(spark, eng.state, tiny_corpus, cfg)
    for c in res.caches:
        c.unpersist()
    plan = res.deltas["metrics"]._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("LocalTableScan"), plan


def test_register_views_sql_surface(spark, tiny_corpus, tiny_seeds):
    """spark.sql over the crawl state tables (the dashboard-scan analog,
    app.py:144-149)."""
    from distributed_web_scrapper_and_crawler_spark.config import CrawlConfig
    from distributed_web_scrapper_and_crawler_spark.plans.crawl import CrawlEngine

    eng = CrawlEngine(
        spark=spark, corpus=tiny_corpus, cfg=CrawlConfig(parity_mode=True, round_budget=32)
    )
    eng.seed(tiny_seeds)
    eng.run(max_rounds=2)
    views = eng.register_views()
    assert "crawl_pages" in views
    n_sql = spark.sql("SELECT count(*) AS n FROM crawl_pages").collect()[0]["n"]
    assert n_sql == eng.state.pages.count()
    by_status = {
        r["status"]: r["n"]
        for r in spark.sql(
            "SELECT status, count(*) AS n FROM crawl_done GROUP BY status"
        ).collect()
    }
    assert by_status.get("completed", 0) > 0
