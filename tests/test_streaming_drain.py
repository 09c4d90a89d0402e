"""The streaming maintainers' shared drain contract: partition listing
(no Spark) and exactly-once recovery when a drain dies after a batch has
written its state and is resumed from its checkpoint."""

from __future__ import annotations

import datetime as dt

import pytest

from pos_pipeline_core_etl_spark.streaming import events
from pos_pipeline_core_etl_spark.streaming.events import batch_partitions


def _names(paths):
    return [p.rsplit("/", 1)[1] for p in paths]


class TestBatchPartitions:
    def test_orders_by_integer_id(self, tmp_path):
        for i in (10, 9, 0, 2):
            (tmp_path / f"batch_id={i}").mkdir()
        assert _names(batch_partitions(str(tmp_path))) == [
            "batch_id=0",
            "batch_id=2",
            "batch_id=9",
            "batch_id=10",
        ]

    def test_before_keeps_strictly_earlier_ids(self, tmp_path):
        for i in range(5):
            (tmp_path / f"batch_id={i}").mkdir()
        assert _names(batch_partitions(str(tmp_path), before=3)) == [
            "batch_id=0",
            "batch_id=1",
            "batch_id=2",
        ]
        assert batch_partitions(str(tmp_path), before=0) == []

    def test_missing_directory_has_no_partitions(self, tmp_path):
        assert batch_partitions(str(tmp_path / "absent")) == []
        assert batch_partitions(str(tmp_path / "absent"), before=4) == []

    def test_ignores_non_partition_entries(self, tmp_path):
        (tmp_path / "batch_id=1").mkdir()
        (tmp_path / "_spark_metadata").mkdir()
        (tmp_path / ".batch_id=2.tmp").write_text("")
        (tmp_path / "batch_id=3.tmp").write_text("")
        (tmp_path / "batch_id=").mkdir()
        (tmp_path / "_SUCCESS").write_text("")
        assert batch_partitions(str(tmp_path)) == [str(tmp_path / "batch_id=1")]


def _fail_once_after(monkeypatch, body_name: str, fail_batch: int) -> list[int]:
    """Replace the module-level foreachBatch body ``body_name`` with one
    that runs the real body and then raises, once, after batch
    ``fail_batch`` has written its state. Returns the list the failure
    is recorded in."""
    real = getattr(events, body_name)
    failed: list[int] = []

    def body(batch_df, batch_id, *args, **kwargs):
        real(batch_df, batch_id, *args, **kwargs)
        if batch_id == fail_batch and not failed:
            failed.append(batch_id)
            raise RuntimeError(f"injected failure after batch {batch_id}")

    monkeypatch.setattr(events, body_name, body)
    return failed


def _write(spark, rows, schema, stream_dir):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(
        stream_dir
    )


class TestRestartFromCheckpoint:
    """Kill a drain after batch k wrote its state, resume from the same
    checkpoint, and require the final state of an uninterrupted drain of
    the same files (the exactly-once contract of the per-batch-id sink)."""

    def test_mart_maintenance_resumes_exactly_once(self, spark, tmp_path, monkeypatch):
        from pyspark.errors import StreamingQueryException

        schema = events.FACT_STREAM_SCHEMA
        rows = [
            (
                suc,
                dt.date(2024, 2, 1 + day),
                day * 100 + t,
                "efectivo" if t % 2 else "tarjeta",
                20.0 + t,
                1.5,
                t == 0,
            )
            for day in range(3)
            for suc in ("A", "B")
            for t in range(4)
        ]
        hol = spark.createDataFrame([(rows[0][1],)], "fecha date")
        stream_dir = str(tmp_path / "facts")
        # batch 1 carries late rows for batch 0's days: the replayed
        # batch must merge with batch 0's partials exactly once
        first = rows[::2]
        late = rows[1::2]

        def drain(tag):
            return events.run_streaming_mart_maintenance(
                spark,
                stream_dir,
                str(tmp_path / f"partials_{tag}"),
                str(tmp_path / f"mart_{tag}"),
                str(tmp_path / f"ckpt_{tag}"),
                hol,
            )

        def as_sorted(df):
            cols = sorted(df.columns)
            return sorted(tuple(r[c] for c in cols) for r in df.collect())

        failed = _fail_once_after(monkeypatch, "mart_maintenance_batch", 1)
        _write(spark, first, schema, stream_dir)
        drain("resumed")
        _write(spark, late, schema, stream_dir)
        with pytest.raises(StreamingQueryException):
            drain("resumed")
        assert failed == [1]
        resumed = as_sorted(drain("resumed"))
        assert _names(batch_partitions(str(tmp_path / "partials_resumed"))) == [
            "batch_id=0",
            "batch_id=1",
        ]

        assert resumed == as_sorted(drain("straight"))

    @pytest.mark.slow
    def test_cms_counters_resume_exactly_once(self, spark, tmp_path, monkeypatch):
        from pyspark.errors import StreamingQueryException

        stream_dir = str(tmp_path / "keys")
        for i in range(4):
            _write(
                spark,
                [("g", (7 * j + i) % 23) for j in range(40 + 5 * i)],
                "grp string, key long",
                stream_dir,
            )

        def drain(tag):
            got = events.run_streaming_cms_sketch(
                spark,
                stream_dir,
                str(tmp_path / f"ctr_{tag}"),
                str(tmp_path / f"ckpt_{tag}"),
                depth=3,
                width=16,
            )
            return {(r["d"], r["b"]): r["cnt"] for r in got.collect()}

        failed = _fail_once_after(monkeypatch, "cms_counter_batch", 1)
        with pytest.raises(StreamingQueryException):
            drain("resumed")
        assert failed == [1]
        # batch 1's state is on disk; the replay must fold from batch 0,
        # not from its own first attempt
        assert _names(batch_partitions(str(tmp_path / "ctr_resumed"))) == [
            "batch_id=0",
            "batch_id=1",
        ]
        resumed = drain("resumed")
        assert len(batch_partitions(str(tmp_path / "ctr_resumed"))) == 4

        assert resumed == drain("straight")
