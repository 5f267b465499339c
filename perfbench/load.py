"""``load``: the loader path, with registry queries run between its rounds.

Each round lands one seeded ndjson segment of trade events (about 1%
invalid, about 5% repeated from the previous round, event time one hour
later than the last round) and runs ``streaming.ingest.start_ingest``
(availableNow) until it terminates; a round is timed from the segment
landing until the query has terminated and its rows can be read. After
each round five ``queries.REGISTRY`` queries, one per layer the round does
not reach (``QUERIES``), run over a seeded table set in a seeded order;
each is timed as plan construction plus ``collect()``. Most queries run
several times per cycle: one run of them varies by 15-25%, so they need
more samples for a steady median.

A round lands 4000 events, not the 20k a loader might, and the table set
holds 6000 lineitems: a cycle takes about 8 s on a 4-core host, and a run
must fit at least three timed cycles and its set-up into about a minute.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import time

from perfbench import gen
from perfbench.harness import Context, Op, Outcome

EVENTS_PER_ROUND = 4000
HISTORY_ROWS = 5_000
SETUP_REPS = 3
WARM_CYCLES = 1  # untimed, after the oracle pass has run every query once
HOUR0 = dt.datetime(2024, 3, 20)
QUERIES = {  # query: runs per cycle
    "store_delta_merge": 2,  # sources.deltalog/deltadml: log replay, MERGE, commit
    "stream_queue_ingest": 1,  # streaming.queuesource into the ingest sink
    "store_delta_dv_scan": 4,  # sources.deltadv: a scan through deletion vectors
    "ts_asof_join": 4,  # operators.asof and Catalyst's shuffle join
    "doc_quality_score": 3,  # the LLM-pipeline text functions (functions.text)
}
CYCLE = [name for name, runs in QUERIES.items() for _ in range(runs)]
TYPES = ("round", *QUERIES)
# The timed phase is a fixed number of cycles, so every run does the same
# work: as many as take about ``--seconds`` at the nominal pace (a cycle
# took about 8 s on a 4-core host), and at least MIN_CYCLES.
CYCLE_S = 8.0
MIN_CYCLES = 3


class Loader:
    """One store with its spool, quarantine and checkpoint directories."""

    def __init__(self, ctx: Context, root: str):
        self.ctx, self.root = ctx, root
        self.src = os.path.join(root, "spool")
        self.store = os.path.join(root, "store")
        self.quarantine = os.path.join(root, "quarantine")
        self.ckpt = os.path.join(root, "ckpt")
        os.makedirs(self.src)
        self.valid: set[int] = set()
        self.invalid: set[int] = set()
        self.rounds = 0

    def bootstrap(self) -> None:
        """History loaded in batch through MarketDb.add_trades, so the
        stream's anti-join dedup reads a non-empty store."""
        from pyspark.sql import functions as F

        from marketdb_spark.client import MarketDb

        trades, _ = gen.market_frames(self.ctx.seed, HISTORY_ROWS, 1, 2)
        trades["trade_id"] += 10**12  # disjoint from streamed ids
        df = (
            self.ctx.spark.createDataFrame(trades)
            .withColumn("price", (F.col("price_cents") / 100).cast("decimal(18,8)"))
            .select("market", "security", "trade_id", "price", "amount", "time", "nosystem")
        )
        MarketDb(self.ctx.spark, trades_path=self.store).add_trades(df)
        self.valid.update(int(x) for x in trades["trade_id"])

    def round(self, rid: object = None) -> Op:
        """Land the next round's segment and ingest it."""
        from marketdb_spark.streaming.ingest import start_ingest

        tracer, r = self.ctx.tracer, self.rounds
        self.rounds += 1
        fresh, bad, repeats = gen.ingest_segment(self.ctx.seed, r, EVENTS_PER_ROUND, HOUR0)
        payload = gen.segment_bytes(fresh, bad, repeats, self.ctx.seed, r)
        tmp = os.path.join(self.root, f".seg{r}.json")
        with open(tmp, "wb") as f:
            f.write(payload)
        os.replace(tmp, os.path.join(self.src, f"seg{r:05d}.json"))
        start, err = time.time(), None
        try:
            with tracer.span("run", rid=rid):
                with tracer.span("construct"):
                    q = start_ingest(self.ctx.spark, self.src, self.store, self.quarantine, self.ckpt)
                q.awaitTermination()
            if q.exception() is not None:
                err = str(q.exception())
        except Exception as exc:  # a failed round is counted, never dropped
            err = f"{type(exc).__name__}: {exc}"
        end = time.time()
        self.valid.update(e["trade_id"] for e in fresh)
        self.invalid.update(e["trade_id"] for e in bad)
        return Op("round", start, end, rid is not None, rid, err is None, err, len(fresh))

    def check(self) -> list[str]:
        """The store holds exactly the distinct valid keys; the quarantine
        exactly the invalid events."""
        spark = self.ctx.spark
        problems = []
        ids = [r[0] for r in spark.read.parquet(self.store).select("trade_id").collect()]
        if len(ids) != len(set(ids)):
            problems.append(f"store holds {len(ids) - len(set(ids))} duplicate keys")
        if set(ids) != self.valid:
            problems.append(
                f"store: {len(set(ids) - self.valid)} unexpected, {len(self.valid - set(ids))} missing keys"
            )
        rejected = [
            json.loads(r[0])["trade_id"]
            for r in spark.read.parquet(self.quarantine).select("payload").collect()
        ]
        if sorted(rejected) != sorted(self.invalid):
            problems.append(f"quarantine: {len(rejected)} rows, want {len(self.invalid)} invalid events")
        return problems


class Queries:
    """The registry queries over one seeded table set."""

    def __init__(self, ctx: Context, sf: str):
        self.ctx, self.sf = ctx, sf
        self.want_rows: dict[str, int] = {}

    def check(self) -> list[str]:
        """Compare every query with its DuckDB oracle through the
        repository's own gate (``marketdb_spark.oracle.compare``) and keep
        its row count for the checks of later runs."""
        from marketdb_spark.oracle import compare, duckdb_connection
        from marketdb_spark.queries import REGISTRY

        problems = []
        con = duckdb_connection(self.sf)
        try:
            for name in QUERIES:
                spec = REGISTRY[name]
                try:
                    df = spec.fn(self.ctx.spark, self.sf)
                    if spec.oracle is None:
                        self.want_rows[name] = len(df.collect())
                        continue
                    res = compare(name, df, spec.oracle, con)
                    self.want_rows[name] = res.row_count
                    if not res.ok:
                        problems.append(f"{name}: " + "; ".join(res.problems))
                except Exception as exc:  # a failed query is counted, never dropped
                    problems.append(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
        finally:
            con.close()
        return problems

    def run(self, name: str, rid: object = None) -> Op:
        from marketdb_spark.queries import REGISTRY

        tracer = self.ctx.tracer
        start, err = time.time(), None
        try:
            with tracer.span("run", rid=rid):
                with tracer.span("construct"):
                    df = REGISTRY[name].fn(self.ctx.spark, self.sf)
                n = len(df.collect())
            if n != self.want_rows.get(name):
                err = f"{n} rows, the oracle check had {self.want_rows.get(name)}"
        except Exception as exc:
            err, n = f"{type(exc).__name__}: {str(exc)[:200]}", 0
        return Op(name, start, time.time(), rid is not None, rid, err is None, err, n)


def run(ctx: Context) -> Outcome:
    tables = gen.query_tables(ctx.seed)
    setup = []
    root = None
    for rep in range(SETUP_REPS):
        if root is not None:
            shutil.rmtree(root)  # while still in the page cache: cheap
        t0 = time.perf_counter()
        root = os.path.join(ctx.workdir, f"load{rep}")
        loader = Loader(ctx, root)
        loader.bootstrap()
        first = loader.round()
        sf = os.path.join(root, "tables")
        gen.write_tables(tables, sf)
        setup.append(time.perf_counter() - t0)
        if not first.ok:
            raise RuntimeError(f"set-up round failed: {first.error}")
    queries = Queries(ctx, sf)
    oracle_problems = queries.check()
    rng = gen.rng_for(ctx.seed, "query_order")

    def cycle(ops: list[Op], traced: bool) -> None:
        """One round, then the cycle's queries in a seeded order."""
        names = [CYCLE[int(k)] for k in rng.permutation(len(CYCLE))]
        for i, name in enumerate(["round", *names]):
            rid = len(ops) if traced else None
            ops.append(loader.round(rid) if i == 0 else queries.run(name, rid))

    warm: list[Op] = []
    for _ in range(WARM_CYCLES):
        cycle(warm, traced=False)
    ops: list[Op] = []
    t0 = time.perf_counter()
    # in a traced run every other cycle records spans, and the untraced ones
    # time the same operations without them, for the trace overhead
    for k in range(max(MIN_CYCLES, round(ctx.seconds / CYCLE_S))):
        cycle(ops, traced=ctx.trace and k % 2 == 0)
    timed_s = time.perf_counter() - t0
    store_problems = loader.check()
    failed = sum(not op.ok for op in ops + warm) + len(oracle_problems)
    return Outcome(
        types=TYPES,
        setup_reps=setup,
        ops=ops,
        timed_s=timed_s,
        attempted=len(ops) + len(warm) + len(QUERIES),
        failed=failed,
        correct=failed == 0 and not store_problems,
        notes=(oracle_problems + store_problems + [f"{op.kind}: {op.error}" for op in ops + warm if op.error])[:5],
    )
