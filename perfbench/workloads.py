"""The two workloads. Each drives the package only through its public
functions, one operation at a time (a closed loop with one client).

``pos_batch``: one operation is the nightly medallion rebuild. Silver
facts go through ``sources.metadata.run_stage(mode="force")`` with the
``plans.pos_adapter`` builders; the gold marts are built with
``operators.payments``/``sales``/``transfers`` and exported with
``sources.writers``; then ``operators.qa.run_payments_qa`` and
``forecasting.api.run_payments_forecast`` run over the lazy mart.

``pos_serve``: a long-lived serving session. One operation is either a
refresh — a date slice of the payments fact (late rows included) lands
in the stream directory, ``streaming.events.run_streaming_mart_maintenance``
drains it and the mart is read back — or one short registry call from
the ``plans.*`` modules, whose result is fetched. A round is one refresh
followed by one call from each module; a run is whole rounds.
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

from pos_pipeline_core_etl_spark import registry
from pos_pipeline_core_etl_spark.forecasting.api import run_payments_forecast
from pos_pipeline_core_etl_spark.operators import payments, qa, sales, transfers
from pos_pipeline_core_etl_spark.plans import pos_adapter
from pos_pipeline_core_etl_spark.plans.marts import PAYMENTS_DAILY_MART_SQL
from pos_pipeline_core_etl_spark.sources import metadata, writers
from pos_pipeline_core_etl_spark.streaming.events import run_streaming_mart_maintenance

import inputs

PACKAGE = "pos_pipeline_core_etl_spark."


class PosBatch:
    name = "pos_batch"
    fraction = 0.1  # of the sf0.01 orders (lineitem follows): sf0.001-sized
    max_rounds = 50
    facts = (
        ("fact_payments_ticket", pos_adapter.fact_payments_ticket),
        ("fact_sales_item_line", pos_adapter.fact_sales_item_line),
        ("fact_transfers_line", pos_adapter.fact_transfers_line),
    )

    def __init__(self, ctx):
        self.ctx = ctx
        self.silver = os.path.join(ctx.work, "silver")
        self.gold = os.path.join(ctx.work, "gold")
        orders = pq.read_table(os.path.join(ctx.sf_dir, "orders.parquet"), columns=["o_orderdate"])
        self.start, self.end = inputs.date_range(orders, "o_orderdate")
        self.rows_per_op = ctx.counts["orders"] + ctx.counts["lineitem"]

    def ops(self):
        while True:
            yield "rebuild"

    def round_len(self) -> int:
        return 1

    def warm_ops(self) -> list[str]:
        return ["rebuild"]

    def prepare(self, op: str) -> int:
        """Untimed work before ``op``; returns the input rows it reads."""
        return self.rows_per_op

    def run(self, op: str) -> dict:
        ctx, tr, spark = self.ctx, self.ctx.tracer, self.ctx.spark
        for stage, builder in self.facts:
            build = tr.wrap("plans.pos_adapter", lambda sp, b=builder: b(sp, ctx.sf_dir))
            with tr.span("sources.metadata"):
                metadata.run_stage(spark, self.silver, stage, self.start, self.end, build, mode="force")
        fp, fs, ft = (spark.read.parquet(os.path.join(self.silver, s)) for s, _ in self.facts)
        write = tr.wrap("sources.writers", writers.write_partitioned)
        with tr.span("operators.payments"):
            hol = tr.wrap("plans.pos_adapter", pos_adapter.holidays_from_fact)(fp)
            mart = payments.build_payments_daily(fp, hol)
        with tr.span("operators.payments", "action"):
            write(mart, os.path.join(self.gold, "payments_daily"), partition_by=())
        with tr.span("operators.sales"):
            by_ticket = sales.build_sales_by_ticket(fs)
            by_group = sales.build_sales_by_group(fs)
        with tr.span("operators.sales", "action"):
            write(by_ticket, os.path.join(self.gold, "sales_by_ticket"), partition_by=())
            write(by_group, os.path.join(self.gold, "sales_by_group"), partition_by=())
        with tr.span("operators.transfers"):
            cube = transfers.build_transfers_cube(ft)
        with tr.span("operators.transfers", "action"):
            tr.wrap("sources.writers", writers.export_csv)(
                cube, os.path.join(self.gold, "transfers_cube"), single_file=True
            )
        with tr.span("operators.qa"):
            summary = qa.run_payments_qa(mart)["summary"]
        with tr.span("forecasting.api"):
            result = run_payments_forecast(mart)
        with tr.span("forecasting.api", "action"):
            forecast = result.forecast.toPandas()
            deposits = result.deposit_schedule.toPandas()
        return {"qa": summary, "forecast": forecast, "deposits": deposits, "horizon": result.metadata["horizon_days"]}

    def check(self, op: str, out: dict) -> bool:
        chk = self.ctx.checker
        ok = chk.qa_summary(out["qa"])
        ok = chk.oracle("forecast_deposit_schedule", out["deposits"]) and ok
        fc = out["forecast"]
        sizes = fc.groupby(["sucursal", "metric"]).size()
        if fc.empty or not np.isfinite(fc["valor"]).all() or (sizes != out["horizon"]).any():
            ok = chk.fail("forecast: empty, non-finite or not one row per horizon day")
        return ok

    def check_final(self) -> bool:
        """The files the last rebuild left, against their oracles."""
        chk = self.ctx.checker
        ok = True
        for stage, _ in self.facts:
            got = chk.sql(f"SELECT * FROM read_parquet('{self.silver}/{stage}/*.parquet')")
            ok = chk.oracle(stage, got) and ok
        for name, path in (
            ("payments_daily_mart", "payments_daily"),
            ("sales_by_ticket_mart", "sales_by_ticket"),
            ("sales_by_group_mart", "sales_by_group"),
        ):
            got = chk.sql(f"SELECT * FROM read_parquet('{self.gold}/{path}/*.parquet')")
            ok = chk.oracle(name, got) and ok
        got = chk.sql(f"SELECT * FROM read_csv('{self.gold}/transfers_cube/*.csv', header = true)")
        return chk.oracle("transfers_cube_mart", got) and ok


# Short interactive calls, one per plans.* module. The graph call is
# served from a session cache (the edge build), which the warm pass fills.
SERVE_CALLS = (
    "topk_per_group",
    "calendar_zero_fill",
    "sketch_kmv_merge",
    "qa_duplicates",
    "fact_payments_ticket",
    "text_quality",
    "graph_part_neighbor_jaccard_capped",
    "docs_lr_train",
)


class PosServe:
    name = "pos_serve"
    fraction = 0.1
    max_rounds = 24
    refreshes_per_round = 1
    window_days = 240
    late_share = 0.10

    def __init__(self, ctx):
        self.ctx = ctx
        self.queries = registry.all_queries()
        self.stream = os.path.join(ctx.work, "stream")
        self.state = {k: os.path.join(ctx.work, k) for k in ("partials", "mart", "checkpoint")}
        os.makedirs(self.stream)
        con = duckdb.connect()
        for t in ("orders", "customer", "nation"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{ctx.sf_dir}/{t}.parquet')")
        fact = con.execute(pos_adapter.FACT_PAYMENTS_SQL).arrow()
        con.close()
        n_slices = 1 + self.refreshes_per_round * self.max_rounds  # the warm pass lands one
        self.slices = inputs.stream_slices(fact, ctx.seed, self.window_days, n_slices, self.late_share)
        self.landed_orders: list[int] = []
        self.holidays = pos_adapter.holidays(ctx.spark, ctx.sf_dir)

    def layer(self, op: str) -> str:
        if op == "refresh":
            return "streaming.events"
        return self.queries[op].__module__[len(PACKAGE):]

    def ops(self):
        """Every round runs the same operations in the same order, so runs
        on different seeds differ only in their inputs."""
        while True:
            yield from ["refresh"] * self.refreshes_per_round
            yield from SERVE_CALLS

    def round_len(self) -> int:
        return self.refreshes_per_round + len(SERVE_CALLS)

    def warm_ops(self) -> list[str]:
        """One refresh and one call of each query."""
        return ["refresh", *SERVE_CALLS]

    def prepare(self, op: str) -> int:
        return self.land() if op == "refresh" else 0

    def land(self) -> int:
        """Land the next slice (atomically: write hidden, then rename)."""
        k = len(os.listdir(self.stream))
        tmp = os.path.join(self.stream, f".part-{k:05d}.parquet")
        pq.write_table(self.slices[k], tmp)
        os.rename(tmp, os.path.join(self.stream, f"part-{k:05d}.parquet"))
        self.landed_orders += self.slices[k].column("order_index").to_pylist()
        return self.slices[k].num_rows

    def run(self, op: str):
        ctx, tr, spark = self.ctx, self.ctx.tracer, self.ctx.spark
        if op == "refresh":
            with tr.span("streaming.events"):
                mart = run_streaming_mart_maintenance(
                    spark, self.stream, self.state["partials"], self.state["mart"],
                    self.state["checkpoint"], self.holidays,
                )
            with tr.span("streaming.events", "action"):
                return mart.toPandas(), len(self.landed_orders)
        layer = self.layer(op)
        with tr.span(layer):
            df = self.queries[op](spark, ctx.sf_dir)
        with tr.span(layer, "action"):
            return df.toPandas()

    def check(self, op: str, out) -> bool:
        chk = self.ctx.checker
        if op != "refresh":
            return chk.oracle(op, out)
        mart, n_landed = out
        return chk.same(f"refresh after {n_landed} rows", mart, self._landed_oracle(n_landed))

    def _landed_oracle(self, n_landed: int):
        """The payments_daily_mart oracle over the first ``n_landed`` rows
        landed: the fact is one row per order, so restricting orders
        restricts it."""
        con = duckdb.connect()
        sf = self.ctx.sf_dir
        con.execute(
            f"CREATE TABLE landed AS SELECT unnest({self.landed_orders[:n_landed]}::BIGINT[]) AS k"
        )
        con.execute(
            f"CREATE VIEW orders AS SELECT * FROM read_parquet('{sf}/orders.parquet') "
            "WHERE o_orderkey IN (SELECT k FROM landed)"
        )
        for t in ("customer", "nation"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
        df = con.execute(PAYMENTS_DAILY_MART_SQL).fetchdf()
        con.close()
        return df

    def check_final(self) -> bool:
        """The maintained mart against ``build_payments_daily`` over every
        landed row (and, per refresh, against the oracle above)."""
        spark = self.ctx.spark
        landed = spark.read.parquet(self.stream)
        want = payments.build_payments_daily(landed, self.holidays).toPandas()
        got = spark.read.parquet(self.state["mart"]).toPandas()
        return self.ctx.checker.same("final mart vs build_payments_daily", got, want)


WORKLOADS = {w.name: w for w in (PosBatch, PosServe)}


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]
