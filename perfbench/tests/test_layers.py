"""The layer reader: Spark's own records of a fixture query."""

from __future__ import annotations

import re

import pytest

from biodiversity_data_ingestion_spark.plans.queries import QUERIES
from biodiversity_data_ingestion_spark.session import get_spark
from inputs import generate
from layers import METRICS, LayerReader, add_node_metrics, parse_metric

# a shuffle or broadcast exchange line of a physical plan tree string
_EXCHANGE = re.compile(r"^[\s+\-:|*()\d]*(Exchange|BroadcastExchange) ", re.M)


@pytest.fixture(scope="module", autouse=True)
def _jvm_exits():
    """Stop the JVM the tests started and wait for it to exit."""
    yield
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


@pytest.fixture(scope="module")
def data_dir(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("inputs"))
    generate(path, 1, seed=5)
    return path


def test_parse_metric_forms():
    assert parse_metric("1,234") == 1234
    assert parse_metric("25 ms") == pytest.approx(0.025)
    assert parse_metric("1.5 KiB") == 1536
    assert parse_metric(
        "total (min, med, max (stageId: taskId))\n7.2 s (1.7 s, 1.8 s, 2.0 s (stage 3.0: task 2))"
    ) == pytest.approx(7.2)


def test_node_metrics_skip_forms_without_a_total():
    rec = dict.fromkeys(METRICS, 0.0)
    add_node_metrics(rec, {
        # a metric the record does not use, in a form with no total
        "number of partitions": "(min, med, max (stageId: taskId)):\n(1, 1, 1 (stage 41.0: task 34))",
        "spill size": "total (min, med, max (stageId: taskId))\n"
                      "1.0 MiB (0.0 B, 0.0 B, 1.0 MiB (stage 1.0: task 2))",
    })
    assert rec["operators.spill_mb"] == 1.0
    assert sum(rec.values()) == 1.0


def test_fixture_query_record_matches_executed_plan(data_dir):
    spark = get_spark(app_name="perfbench-layers")
    try:
        reader = LayerReader(spark)
        reader.begin()
        df = QUERIES["revenue_by_nation"]["builder"](spark, data_dir)
        assert df.collect()
        plan = df._jdf.queryExecution().executedPlan().finalPhysicalPlan().toString()
        df = None
        rec = reader.end(build_s=0.0)
    finally:
        spark.stop()
    assert set(rec) == set(METRICS)
    assert rec["plans.jobs"] > 0
    assert rec["plans.sql_executions"] == 1
    assert rec["operators.exchanges"] > 0
    assert rec["operators.exchanges"] == len(_EXCHANGE.findall(plan))
    assert rec["sources.scan_files"] == 5  # lineitem orders customer nation region
    assert rec["plans.lost_records"] == 0


def _five_actions(extra_conf: dict) -> dict:
    spark = get_spark(app_name="perfbench-evict", extra_conf=extra_conf)
    try:
        spark.range(1).collect()  # the id baseline: one retained execution
        reader = LayerReader(spark)
        reader.begin()
        for _ in range(5):
            spark.range(100).selectExpr("sum(id)").collect()
        return reader.end(build_s=0.0)
    finally:
        spark.stop()


def test_evicted_records_are_counted_as_lost():
    full = _five_actions({})
    evicted = _five_actions({
        "spark.ui.retainedJobs": "1",
        "spark.ui.retainedStages": "1",
        "spark.sql.ui.retainedExecutions": "1",
    })
    assert full["plans.lost_records"] == 0
    assert evicted["plans.lost_records"] > 0
    # counts come from the record ids, so eviction cannot shrink them
    assert evicted["plans.sql_executions"] == full["plans.sql_executions"] == 5
    assert evicted["plans.jobs"] == full["plans.jobs"] >= 5
