"""bench.py's sustained phase is non-fatal and keeps the failure cause:
a failed launch records its exception head, and a phase where every
launch failed still yields the JSON fields (null, with an error)."""

from __future__ import annotations

import bench

SPARK_STDERR = """\
26/10/16 12:00:00 WARN NativeCodeLoader: Unable to load native-hadoop library
Traceback (most recent call last):
  File "bench.py", line 130, in sustained_worker
pyspark.errors.exceptions.captured.StreamingQueryException: [STREAM_FAILED] Query terminated
== Physical Plan ==
+- *(1) Project [doc_id#1, ts#2]
\tat org.apache.spark.sql.execution.streaming.StreamExecution.run(StreamExecution.scala:1)
Caused by: java.lang.IllegalStateException: Error reading delta file /tmp/ckpt/state/0/1.delta
\tat org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider.load(X.scala:2)
""" + "+- FileScan parquet [doc_id#1] Batched: true\n" * 200


def test_exception_head_keeps_the_cause_not_the_plan_tail():
    head = bench.exception_head(SPARK_STDERR).splitlines()
    assert head == [
        "pyspark.errors.exceptions.captured.StreamingQueryException: "
        "[STREAM_FAILED] Query terminated",
        "Caused by: java.lang.IllegalStateException: Error reading delta file "
        "/tmp/ckpt/state/0/1.delta",
    ]


def test_exception_head_falls_back_to_last_lines():
    assert bench.exception_head("a\n\nb\nKilled\n", max_lines=2) == "b\nKilled"


def test_all_launches_failed_is_not_fatal():
    launches = [{"launch": i, "error": "java.lang.OutOfMemoryError"} for i in range(3)]
    best = bench.pick_sustained(launches)
    fields = bench.sustained_fields(best, launches)
    assert best is None
    assert fields["sustained_volume_tokens_per_sec"] is None
    assert fields["sustained_volume_rows"] is None
    assert fields["sustained_volume_launches"] == ["launch-failed"] * 3
    assert "OutOfMemoryError" in fields["error"]


def test_best_launch_skips_slow_mode():
    launches = [
        {"launch": 0, "seconds": 10.0, "rows": 100, "tokens_out": 1000, "tokens_per_sec": 100},
        {"launch": 1, "seconds": 4.0, "rows": 100, "tokens_out": 1000, "tokens_per_sec": 250},
        {"launch": 2, "error": "boom"},
    ]
    best = bench.pick_sustained(launches)
    fields = bench.sustained_fields(best, launches)
    assert best["launch"] == 1
    assert fields["sustained_volume_tokens_per_sec"] == 250
    assert fields["sustained_volume_launches"] == [-100, 250, "launch-failed"]
    assert "error" not in fields
