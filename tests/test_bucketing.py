"""Bucketed co-located join: the shuffle-elimination strategy for repeated
big-table joins at 100 TB (SURVEY.md/BASELINE 'partitioning & shuffle').

Writing both fact tables bucketed+sorted on the join key means every
subsequent join on that key runs with ZERO exchange — at 100 TB that is the
difference between re-shuffling terabytes per query and none.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from node_mongo2influx_spark.plans.tables import load


def _plan(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    for name, key in (("orders", "o_custkey"), ("customer", "c_custkey")):
        (
            load(spark, sf_dir, name)
            .write.mode("overwrite")
            .bucketBy(8, key)
            .sortBy(key)
            .saveAsTable(f"b_{name}")
        )
    yield
    for name in ("orders", "customer"):
        spark.sql(f"DROP TABLE IF EXISTS b_{name}")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("b_orders").join(
            spark.table("b_customer"),
            spark.table("b_orders").o_custkey == spark.table("b_customer").c_custkey,
        )
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join still shuffles:\n" + plan
        # and it actually computes the right thing
        assert j.count() == spark.table("b_orders").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_unbucketed_join_does_exchange(spark, sf_dir):
    # control: same join without bucketing shuffles both sides
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = load(spark, sf_dir, "orders")
        c = load(spark, sf_dir, "customer")
        plan = _plan(o.join(c, o.o_custkey == c.c_custkey))
        assert "Exchange" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_fingerprint_store_one_sided_exchange(spark, sf_dir):
    # The incremental-dedup fingerprint store (operators/dedup.py
    # incremental_exact) persisted BUCKETED by fp: each arriving delta
    # batch anti-joins the store with an Exchange on the (small) delta
    # side ONLY — the 100 TB-history side is never reshuffled per
    # increment.
    docs = load(spark, sf_dir, "documents")
    fps = docs.select(F.md5("text").alias("fp")).distinct()
    (
        fps.write.mode("overwrite")
        .bucketBy(8, "fp")
        .sortBy("fp")
        .saveAsTable("b_fps")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        delta = docs.where("doc_id % 7 = 0").select(
            "doc_id", F.md5("text").alias("fp")
        )
        survivors = delta.join(spark.table("b_fps"), "fp", "left_anti")
        plan = _plan(survivors)
        # formatted mode prints each node twice (tree line + detail
        # header) — count the numbered detail headers.
        import re

        n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
        assert n_exchanges == 1, "store side reshuffled:\n" + plan
        assert survivors.count() == 0  # every delta fp is in the store
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_fps")
