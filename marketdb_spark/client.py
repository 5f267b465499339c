"""MarketDb client façade — the procedural surface of the reference's
quick-start (README.md:119-155: `ScanTrades(market, security, interval)` →
`TimeSeries` handle → `TimeSeriesEnumerator.enumerate(fold)`), collapsed to
its Spark equivalent: a method returning an *unexecuted* DataFrame (the
lazy TimeSeries handle) on which Spark's own fold surface (count/collect/
limit/agg) replaces the iteratee run.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession

from marketdb_spark.api import merge_series, scan_series
from marketdb_spark.sources.store import (
    ORDER_KEY,
    TRADE_KEY,
    idempotent_append,
    read_store,
)

Interval = "tuple[datetime | str, datetime | str]"


class MarketDb:
    """`MarketDb(spark, trades_path, orders_path)` over partitioned Parquet
    stores (sources.store layout: partitionBy(market, date), sorted by
    (security, time) in-file).

    Scan semantics (SURVEY §3.2): interval inclusive at both ends, result
    ordered by event time with deterministic tie-break on the event id.
    """

    def __init__(
        self,
        spark: SparkSession,
        trades_path: str | None = None,
        orders_path: str | None = None,
    ) -> None:
        self.spark = spark
        self.trades_path = trades_path
        self.orders_path = orders_path

    # -- query handles (ScanTrades / ScanOrders, MarketDbProtocol.scala:21-22)

    def trades(
        self, market: str, security: str, interval: Interval
    ) -> DataFrame:
        """Lazy time-series handle for one instrument's trades."""
        return self._scan(self.trades_path, "trade_id", market, security, interval)

    def orders(
        self, market: str, security: str, interval: Interval
    ) -> DataFrame:
        return self._scan(self.orders_path, "order_id", market, security, interval)

    def _scan(
        self,
        path: str | None,
        id_col: str,
        market: str,
        security: str,
        interval: Interval,
    ) -> DataFrame:
        if path is None:
            raise ValueError("store path not configured")
        start, end = interval
        return scan_series(
            read_store(self.spark, path),
            "time",
            start,
            end,
            tie_cols=[id_col],
            market=market,
            security=security,
        )

    # -- k-way merge (TimeSeriesEnumerator.scala:48-99)

    @staticmethod
    def merge(*series: DataFrame, kinds: list[str] | None = None) -> DataFrame:
        """Merge N handles into one globally time-ordered stream; tie-break
        by the declared kind tag (deterministic — SURVEY §3.2)."""
        return merge_series(list(series), "time", kind_col="kind", kinds=kinds)

    # -- derived series (bar aggregation over a scan handle)

    def ohlc(
        self, market: str, security: str, interval: Interval, bar: str = "minute"
    ) -> DataFrame:
        """OHLC bars for one instrument: open/high/low/close on price
        (ties broken on trade_id), volume = sum(amount) — the minute-bucket
        rollup the reference's row-key clock implies (Trade.scala:24-27)
        surfaced as a first-class query. Lazy like every other handle."""
        from marketdb_spark.operators.ohlc import ohlc_bars

        return ohlc_bars(
            self.trades(market, security, interval),
            key_cols=["market", "security"],
            time_col="time",
            value_col="price",
            id_col="trade_id",
            bar=bar,
            volume_col="amount",
        )

    # -- ingest (addTrade/addOrder, MarketDB.scala:139-168) — idempotent

    def add_trades(self, df: DataFrame) -> None:
        if self.trades_path is None:
            raise ValueError("trades path not configured")
        idempotent_append(self.spark, df, self.trades_path, TRADE_KEY)

    def add_orders(self, df: DataFrame) -> None:
        if self.orders_path is None:
            raise ValueError("orders path not configured")
        idempotent_append(self.spark, df, self.orders_path, ORDER_KEY)

    # -- maintenance (the HBase-region-compaction analog)

    def compact(self, target_file_bytes: int = 128 * 1024 * 1024) -> dict:
        """Merge micro-batch small files in both stores; returns combined
        {files_before, files_after, partitions_rewritten}."""
        from marketdb_spark.sources.store import compact_store

        totals = {"files_before": 0, "files_after": 0, "partitions_rewritten": 0}
        for path in (self.trades_path, self.orders_path):
            if path is None:
                continue
            stats = compact_store(self.spark, path, target_file_bytes)
            for k in totals:
                totals[k] += stats[k]
        return totals
