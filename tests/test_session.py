"""Session factory: generated code stays warm across rebuilds, and
session-scoped caches key on the session and the absolute input path."""

from __future__ import annotations

import datetime as dt
import os

from pos_pipeline_core_etl_spark.forecasting.api import run_payments_forecast
from pos_pipeline_core_etl_spark.operators import payments, qa, sales, transfers
from pos_pipeline_core_etl_spark.plans import pos_adapter
from pos_pipeline_core_etl_spark.session import session_cache_key
from pos_pipeline_core_etl_spark.sources import metadata, writers

SF_DIR = "/root/testdata/sf0.001"
FACTS = (
    ("fact_payments_ticket", pos_adapter.fact_payments_ticket),
    ("fact_sales_item_line", pos_adapter.fact_sales_item_line),
    ("fact_transfers_line", pos_adapter.fact_transfers_line),
)


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM (cache hits do not count)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _rebuild(spark, out: str) -> None:
    """The nightly rebuild: silver facts, gold marts, QA and forecast."""
    silver, gold = os.path.join(out, "silver"), os.path.join(out, "gold")
    fp, fs, ft = (
        metadata.run_stage(
            spark, silver, stage, dt.date(1992, 1, 1), dt.date(1998, 12, 31),
            lambda sp, b=builder: b(sp, SF_DIR), mode="force",
        )
        for stage, builder in FACTS
    )
    mart = payments.build_payments_daily(fp, pos_adapter.holidays_from_fact(fp))
    for name, df in (
        ("payments_daily", mart),
        ("sales_by_ticket", sales.build_sales_by_ticket(fs)),
        ("sales_by_group", sales.build_sales_by_group(fs)),
    ):
        writers.write_partitioned(df, os.path.join(gold, name), partition_by=())
    writers.export_csv(
        transfers.build_transfers_cube(ft), os.path.join(gold, "transfers_cube"),
        single_file=True,
    )
    qa.run_payments_qa(mart)
    result = run_payments_forecast(mart)
    result.forecast.toPandas()
    result.deposit_schedule.toPandas()


def test_second_rebuild_reuses_generated_code(spark, tmp_path):
    """One rebuild compiles ~160 distinct classes. With Spark's default
    codegen cache of 100 entries, LRU eviction made every rebuild
    recompile all of them; the cache get_spark sizes keeps them."""
    _rebuild(spark, str(tmp_path / "first"))
    before = _compiles(spark)
    _rebuild(spark, str(tmp_path / "second"))
    assert _compiles(spark) - before <= 10


def test_session_cache_key_normalizes_the_path(spark, tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    os.mkdir("sf")
    absolute = session_cache_key(spark, str(tmp_path / "sf"))
    assert session_cache_key(spark, "sf") == absolute
    assert session_cache_key(spark, "./sf/") == absolute
    assert absolute[0] == spark.sparkContext.applicationId
