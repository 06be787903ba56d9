"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import fixtures  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-selftest")
        .config("spark.driver.memory", "1g")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()


@pytest.fixture(scope="module")
def result(spark):
    return spark.createDataFrame(
        [(i, f"k{i % 7}", i * 0.25, None if i % 5 else "x") for i in range(200)],
        "id long, key string, v double, tag string",
    )


def test_digest_ignores_partitioning_and_order(result):
    one = checks.digest(result.coalesce(1))
    eight = checks.digest(result.repartition(8).orderBy("v", ascending=False))
    assert one == eight
    assert one[0] == 200


def test_digest_catches_a_dropped_row_and_a_changed_value(result):
    from pyspark.sql import functions as F

    base = checks.digest(result)
    dropped = checks.digest(result.filter(F.col("id") != 17))
    changed = checks.digest(
        result.withColumn("v", F.when(F.col("id") == 17, F.lit(99.0)).otherwise(F.col("v")))
    )
    assert dropped != base and dropped[0] == 199
    assert changed != base and changed[0] == 200


def test_oracle_rows_digest_like_the_spark_result(spark, result):
    import pyarrow as pa

    rows = pa.table(
        {
            "KEY": [f"k{i % 7}" for i in range(200)],
            "id": pa.array(range(200), pa.int32()),
            "v": [i * 0.25 for i in range(200)],
            "tag": [None if i % 5 else "x" for i in range(200)],
        }
    )
    assert checks.digest_like(spark, rows, result.schema) == checks.digest(result)


def test_percentile_definition():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 90) == pytest.approx(4.6)
    assert stats.percentile(xs, 0) == 1.0 and stats.percentile(xs, 100) == 5.0
    assert stats.percentile([7.0], 90) == 7.0
    assert stats.median([1.0, 2.0, 3.0, 4.0]) == 2.5
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_failed_ratio_definition():
    assert stats.failed_ratio(0, 16) == 0.0
    assert stats.failed_ratio(2, 16) == 0.125
    with pytest.raises(ValueError):
        stats.failed_ratio(0, 0)


def test_union_seconds():
    assert stats.union_seconds([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert stats.union_seconds([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert stats.union_seconds([], 0, 1) == 0


def test_parse_sql_metric():
    assert tracing.parse_sql_metric("1,813") == 1813
    assert tracing.parse_sql_metric("63 ms") == pytest.approx(0.063)
    assert tracing.parse_sql_metric("16.1 MiB") == pytest.approx(16.1 * 2**20)
    assert tracing.parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n2.8 s (1 ms, 2 ms, 3 ms (stage 3.0: task 10))"
    ) == pytest.approx(2.8)
    assert tracing.parse_sql_metric(None) == 0.0


def test_fixtures_are_deterministic_in_the_seed():
    a, b, c = fixtures.make_tables(7), fixtures.make_tables(7), fixtures.make_tables(8)
    for name, rows in fixtures.SF01_ROWS.items():
        assert a[name].num_rows == rows
        assert a[name].equals(b[name])
    assert not a["events"].equals(c["events"])
    r1, _ = fixtures.make_readings(7, households=2)
    r2, _ = fixtures.make_readings(7, households=2)
    assert r1.equals(r2)
    assert r1.column_names[-1] == "KWH/hh (per half hour) "


def test_metric_line_schema():
    bench = run.load_benchmark()
    assert sorted(w["name"] for w in bench["workloads"]) == ["pipeline", "queries"]
    assert set(tracing.PER_LAYER) == {m["name"] for m in bench["per_layer"]}
    values = {m["name"]: 1.5 for m in bench["end_to_end"]}
    parsed = json.loads(run.result_line(True, 16, 0, values, bench["end_to_end"]))
    assert list(parsed) == ["correct", "attempted", "failed", "metrics"]
    assert list(parsed["metrics"]) == [m["name"] for m in bench["end_to_end"]]
    assert parsed["metrics"]["setup_s"] == {"value": 1.5, "unit": "s"}


def _traced_query(spark, stray_job: bool):
    """One traced operation; with ``stray_job`` it also runs a Spark job
    in its own span, outside every child span."""
    tracer = tracing.Tracer(spark.sparkContext, "selftest")
    with tracer.span("pass", "pass"):
        with tracer.span("query demo", "op"):
            with tracer.span("plans.build", "plans"):
                df = spark.range(1000).selectExpr("id % 10 AS k").groupBy("k").count()
            if stray_job:
                spark.range(100_000).selectExpr("sum(id)").collect()
            with tracer.span("plans.execute", "plans"):
                n, _ = checks.digest(df)
    return tracer, tracing.collect(spark, tracer, tracer.spans[0], cores=2, result_rows=n)


def test_trace_schema(spark):
    tracer, (metrics, doc) = _traced_query(spark, stray_job=False)
    per_layer = {m["name"] for m in run.load_benchmark()["per_layer"]}
    assert set(metrics) == per_layer - {"trace.overhead_s", "spark.peak_rss_mb"}
    assert metrics["spark.jobs"] >= 1 and metrics["plans.execute_s"] > 0
    assert doc["schema"] == tracing.TRACE_SCHEMA
    assert set(doc) == {"schema", "trace_id", "spans", "operations", "self_s_by_layer"}
    span = doc["spans"][1]
    assert set(span) == {
        "trace_id", "span_id", "parent_id", "name", "layer", "start", "end", "self_s", "counters",
    }
    assert span["parent_id"] == doc["spans"][0]["span_id"]
    assert {s["trace_id"] for s in doc["spans"]} == {"selftest"}
    (op,) = doc["operations"]
    assert set(op) == {
        "name", "wall_s", "self_s_by_layer", "child_busy_s", "driver_s", "unaccounted_s", "accounted",
    }
    assert op["accounted"] and op["child_busy_s"] > 0
    assert op["child_busy_s"] + op["driver_s"] + op["unaccounted_s"] == pytest.approx(op["wall_s"])
    assert sum(s["counters"]["jobs"] for s in doc["spans"]) == metrics["spark.jobs"]


def test_trace_flags_a_job_outside_every_child_span(spark):
    _, (_, doc) = _traced_query(spark, stray_job=True)
    (op,) = doc["operations"]
    assert not op["accounted"]
    assert op["unaccounted_s"] > tracing.ACCOUNT_TOLERANCE_S
