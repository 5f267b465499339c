"""``scan``: the serving path. Seeded trades and orders are loaded through
``MarketDb.add_trades``/``add_orders`` in several appends (so the store is
fragmented as a loader leaves it), ``MarketDbServer`` is started, and one
client process sends a closed loop of count, cursor and Arrow requests
over TCP, one connection at a time.

The data is small (45k rows) because the store write dominates set-up:
at 400k trades and 200k orders over ten days one set-up took 20-30 s on
a 4-core host, and a run sets up three times. Cursor requests page 100
rows at a time (the server's default) so that paging still happens on
typical requests; the ``#`` lines give the rows, pages and frames per
operation type."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

from perfbench import gen
from perfbench.harness import Context, Op, Outcome
from perfbench.scan_client import one

N_TRADES = 30_000
N_ORDERS = 15_000
DAYS = 4
APPENDS = 2
SETUP_REPS = 3
PLAN_LEN = 2 * gen.PLAN_PERIOD  # the timed loop starts at 0, the warm-up half-way
WARM_REQUESTS = 2 * gen.PLAN_CELL  # untimed, so the first timed requests find the JIT warm
# The timed phase is whole plan periods, so every run sends the same mix
# and does the same work: as many as take about ``--seconds`` at the
# nominal rate (one period took about 20 s on a 4-core host).
PERIOD_S = 20.0
TYPES = gen.SCAN_TYPES


def _spark_frames(spark, trades, orders):
    """The generated rows as Spark frames in the store's schema, split
    into APPENDS seeded slices."""
    from pyspark.sql import functions as F

    price = (F.col("price_cents") / 100).cast("decimal(18,8)")
    t = spark.createDataFrame(trades).withColumn("price", price).select(
        "market", "security", "trade_id", "price", "amount", "time", "nosystem"
    )
    o = (
        spark.createDataFrame(orders)
        .withColumn("price", price)
        .withColumn(
            "deal",
            F.when(
                F.col("deal_id") >= 0,
                F.struct(
                    F.col("deal_id").alias("id"),
                    (F.col("deal_cents") / 100).cast("decimal(18,8)").alias("price"),
                ),
            ),
        )
        .select(
            "market", "security", "order_id", "time", "status", "action", "dir",
            "price", "amount", "amount_rest", "deal",
        )
    )
    slice_col = (F.abs(F.xxhash64(F.col("time"), F.lit(7))) % APPENDS)
    return (
        [t.filter(slice_col == k) for k in range(APPENDS)],
        [o.filter(slice_col == k) for k in range(APPENDS)],
    )


def _server_class(ctx: Context):
    """The program's server, or in a traced run a subclass that records a
    ``run`` span around each dispatch and a ``construct`` span around each
    MarketDb scan handle it builds."""
    from marketdb_spark.client import MarketDb
    from marketdb_spark.server import MarketDbServer

    if not ctx.trace:
        return MarketDbServer
    tracer = ctx.tracer

    class TracedDb(MarketDb):
        def trades(self, *a, **kw):
            with tracer.span("construct"):
                return super().trades(*a, **kw)

        def orders(self, *a, **kw):
            with tracer.span("construct"):
                return super().orders(*a, **kw)

    class TracedServer(MarketDbServer):
        def __init__(self, spark, trades_path, orders_path):
            super().__init__(spark, trades_path, orders_path)
            self.db = TracedDb(spark, trades_path=trades_path, orders_path=orders_path)

        def dispatch(self, req):
            if "rid" not in req:
                yield from super().dispatch(req)
                return
            with tracer.span("run", rid=req["rid"], op=req["op"]):
                yield from super().dispatch(req)

    return TracedServer


def run(ctx: Context) -> Outcome:
    from marketdb_spark.client import MarketDb

    spark = ctx.spark
    trades, orders = gen.market_frames(ctx.seed, N_TRADES, N_ORDERS, DAYS)
    plan = gen.scan_plan(ctx.seed, trades, orders, PLAN_LEN, DAYS)
    server_cls = _server_class(ctx)
    setup, server = [], None
    for rep in range(SETUP_REPS):
        if server is not None:
            server.stop()
            # deleted while still in the page cache: once flushed, deleting
            # the stores' bloom-filter-heavy files costs seconds per run
            shutil.rmtree(root)
        root = os.path.join(ctx.workdir, f"scan{rep}")
        t0 = time.perf_counter()
        t_parts, o_parts = _spark_frames(spark, trades, orders)
        db = MarketDb(spark, trades_path=f"{root}/trades", orders_path=f"{root}/orders")
        for part in t_parts:
            db.add_trades(part)
        for part in o_parts:
            db.add_orders(part)
        server = server_cls(spark, db.trades_path, db.orders_path).start()
        first = {**plan[0], "op": "count"}
        rows = one(server.host, server.port, first, None)[0]
        setup.append(time.perf_counter() - t0)
        if rows != first["expect_rows"]:
            raise RuntimeError(f"set-up check failed: {rows} rows, want {first['expect_rows']}")
    try:
        result = _drive_client(ctx, server.port, plan)
    finally:
        server.stop()
    ops = [
        Op(r["type"], r["start"], r["end"], r["traced"], r["rid"], r["ok"], r["error"],
           r["rows"], r["parts"])
        for r in result["ops"]
    ]
    failed = sum(not op.ok for op in ops) + result["warm_failed"]
    rows_out = [r for r in result["ops"] if r["traced"] and not r["type"].startswith("count")]
    rows = sum(r["rows"] for r in rows_out)
    return Outcome(
        types=TYPES,
        setup_reps=setup,
        ops=ops,
        timed_s=result["timed_s"],
        attempted=len(ops) + result["warm"],
        failed=failed,
        correct=failed == 0,
        bytes_per_row=sum(r["bytes"] for r in rows_out) / rows if rows else 0.0,
        notes=result["errors"][:5],
    )


def _drive_client(ctx: Context, port: int, plan: list[dict]) -> dict:
    """Run the client process over ``plan`` and return its report."""
    plan_path = os.path.join(ctx.workdir, "scan_plan.json")
    out_path = os.path.join(ctx.workdir, "scan_result.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    cmd = [
        sys.executable, "-m", "perfbench.scan_client",
        "--port", str(port), "--plan", plan_path, "--out", out_path,
        "--warm", str(WARM_REQUESTS),
        "--requests", str(gen.PLAN_PERIOD * max(1, round(ctx.seconds / PERIOD_S))),
        "--trace", "1" if ctx.trace else "0",
    ]
    subprocess.run(cmd, check=True, timeout=170)
    with open(out_path) as f:
        return json.load(f)
