"""The layer probe works in a plain session with the UI off.

    python3 -m pytest perfbench/test_probe.py -q
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import SparkSession

import probe


@pytest.fixture(scope="module")
def spark():
    s = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.shuffle.partitions", "2")
         .getOrCreate())
    yield s
    s.stop()


def test_job_counters_with_ui_off(spark):
    assert spark.conf.get("spark.ui.enabled") == "false"
    spark.sparkContext.setJobGroup("probe-test", "probe test")
    df = spark.range(0, 20000, 1, 4).selectExpr("id % 13 AS k").groupBy("k").count()
    phases = probe.catalyst_phases(df)
    assert {"analysis", "optimization", "planning"} <= set(phases)
    assert len(df.collect()) == 13
    jp = probe.JobProbe(spark)
    jp.drain()
    g = jp.group("probe-test")
    assert g.jobs > 0 and g.stages > 0 and g.tasks > 0
    assert g.executor_run_s > 0 and g.executor_cpu_s > 0
    assert g.shuffle_write_bytes > 0 and g.shuffle_records > 0
    assert len(g.intervals) == g.jobs
    assert jp.group("no-such-group").jobs == 0


def test_stream_progress_maps_run_to_group(spark, tmp_path):
    src = tmp_path / "in"
    spark.range(100).write.parquet(str(src / "a"))
    listener = probe.StreamProgress(lambda: "owner-group")
    spark.streams.addListener(listener)
    try:
        q = (spark.readStream.schema("id long").parquet(str(src / "a"))
             .writeStream.format("noop")
             .option("checkpointLocation", str(tmp_path / "cp"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        probe.JobProbe(spark).drain()
        deadline = time.time() + 10
        while not listener.batches and time.time() < deadline:
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
    assert listener.run_group == {str(q.runId): "owner-group"}
    assert sum(b["input_rows"] for b in listener.batches) == 100
    assert probe.JobProbe(spark).group(str(q.runId)).jobs > 0


def test_self_times():
    t = probe.Tracer()
    op = t.add("op", "op", 0.0, 10.0)
    t.add("c", "construct", 1.0, 5.0, op.id)
    t.add("j1", "execute", 2.0, 3.0, 1)
    t.add("j2", "execute", 2.5, 4.0, 1)
    st = t.self_times()
    assert st["op"] == pytest.approx(6.0)
    assert st["construct"] == pytest.approx(2.0)
    assert st["execute"] == pytest.approx(2.0)  # overlapping jobs count once
