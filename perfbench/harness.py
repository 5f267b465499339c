"""What every workload shares: the run context, the timed loop's record of
operations, and the reduction of that record to the reported metrics."""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

from perfbench import stats
from perfbench.trace import EventLog, NullTracer, Tracer, attribute, union_len


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    workdir: str
    tracer: Tracer | NullTracer
    boot_s: float  # process start until the session is up and the program imported

    @property
    def trace(self) -> bool:
        return self.tracer.enabled


@dataclass
class Op:
    kind: str  # operation type; latencies of different types never pool
    start: float  # wall clock, s
    end: float
    traced: bool = False
    rid: object = None
    ok: bool = True
    error: str | None = None
    rows: int = 0  # rows returned
    parts: int = 0  # scan: `next` pages or Arrow frames that carried rows

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Outcome:
    types: tuple[str, ...]  # the workload's operation types, in metric-slot order
    setup_reps: list[float]  # seconds per workload set-up repetition
    ops: list[Op]  # timed operations, failures included
    timed_s: float  # wall time of the timed phase
    attempted: int
    failed: int
    correct: bool
    bytes_per_row: float = 0.0  # scan: wire bytes per row returned
    notes: list[str] = field(default_factory=list)


def type_medians(ops: list[Op], traced: bool | None = None, min_n: int = 3) -> dict[str, float]:
    """Median latency (s) per operation type over the successful ops. A
    type with fewer than ``min_n`` samples is an error, not a number."""
    by: dict[str, list[float]] = {}
    for op in ops:
        if op.ok and (traced is None or op.traced == traced):
            by.setdefault(op.kind, []).append(op.seconds)
    short = {k: len(v) for k, v in by.items() if len(v) < min_n}
    if short or not by:
        raise RuntimeError(f"too few samples for a median: {short or 'no ops'}")
    return {k: statistics.median(v) for k, v in by.items()}


def type_report(o: Outcome) -> list[str]:
    """One line per operation type, in slot order: sample count, median
    and the highest tail percentile the count supports (stats.summarize),
    in ms, and the rows each operation returned; on ``scan`` also the
    mean number of pages or frames and the share of operations that
    needed more than one."""
    lines = []
    for slot, kind in enumerate(o.types, 1):
        ok = [op for op in o.ops if op.ok and op.kind == kind]
        if not ok:
            lines.append(f"op{slot} {kind}: n=0")
            continue
        s = stats.summarize([op.seconds for op in ok])
        tail = "tail=n/a" if s["tail"] is None else f"p{round(100 * s['tail_q'])}_ms={1000 * s['tail']:.1f}"
        rows = sorted(op.rows for op in ok)
        line = (f"op{slot} {kind}: n={s['n']} p50_ms={1000 * s['p50']:.1f} {tail}"
                f" rows_p50={statistics.median(rows):g} rows_max={rows[-1]}")
        if any(op.parts for op in ok):
            multi = sum(op.parts > 1 for op in ok) / len(ok)
            line += f" parts_mean={statistics.mean(op.parts for op in ok):.2f} multi_part={100 * multi:.0f}%"
        lines.append(line)
    return lines


def end_to_end(ctx: Context, o: Outcome) -> dict:
    """``op<k>_p50_ms`` is the median latency of the workload's k-th
    operation type (``Outcome.types``); each type has its own sample set."""
    med = type_medians(o.ops)
    if set(med) != set(o.types):
        raise RuntimeError(f"operation types {sorted(med)}, want {list(o.types)}")
    metrics = {
        f"op{slot}_p50_ms": {"value": 1000 * med[kind], "unit": "ms"}
        for slot, kind in enumerate(o.types, 1)
    }
    metrics["ops_per_s"] = {"value": len(o.ops) / o.timed_s, "unit": "1/s"}
    metrics["setup_s"] = {"value": ctx.boot_s + statistics.median(o.setup_reps), "unit": "s"}
    return metrics


LAYER_UNITS = {
    "entry.construct_ms": "ms",
    "entry.run_ms": "ms",
    "client.wire_ms": "ms",
    "spark.job_ms": "ms",
    "spark.driver_gap_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.input_mb": "MB",
    "spark.shuffle_mb": "MB",
    "streaming.batches": "count",
    "server.bytes_per_row": "B",
    "trace.overhead_pct": "%",
}


def per_layer(ctx: Context, o: Outcome, log: EventLog) -> dict:
    """Means per traced operation of the layer breakdown:

    entry.construct_ms  spans named ``construct`` (plan building in the
                        program's public entry point)
    entry.run_ms        spans named ``run`` (all program-side work of the op)
    client.wire_ms      op latency minus entry.run_ms
    spark.job_ms        union of Spark job intervals inside the run spans
    spark.driver_gap_ms entry.run_ms minus spark.job_ms
    spark.{jobs,stages,tasks,input_mb,shuffle_mb}, streaming.batches
                        event-log work started inside the op's window

    plus server.bytes_per_row (0 off ``scan``) and trace.overhead_pct: traced against untraced
    per-type medians, as a geometric mean.
    """
    by_rid: dict[object, list] = {}
    for s in ctx.tracer.spans:
        by_rid.setdefault(s.rid, []).append(s)
    traced = [op for op in o.ops if op.traced and op.ok]
    if not traced:
        raise RuntimeError("no traced operations")
    acc = dict.fromkeys(LAYER_UNITS, 0.0)
    for op in traced:
        spans = by_rid.get(op.rid, [])
        runs = [s for s in spans if s.name == "run"]
        if not runs:
            raise RuntimeError(f"op {op.rid} has no run span")
        run_s = sum(s.end - s.start for s in runs)
        job_s = sum(union_len(log.jobs, s.start, s.end) for s in runs)
        w = attribute(log, op.start, op.end)
        acc["entry.construct_ms"] += 1000 * sum(s.end - s.start for s in spans if s.name == "construct")
        acc["entry.run_ms"] += 1000 * run_s
        acc["client.wire_ms"] += 1000 * (op.seconds - run_s)
        acc["spark.job_ms"] += 1000 * job_s
        acc["spark.driver_gap_ms"] += 1000 * (run_s - job_s)
        acc["spark.jobs"] += w["jobs"]
        acc["spark.stages"] += w["stages"]
        acc["spark.tasks"] += w["tasks"]
        acc["spark.input_mb"] += w["input_bytes"] / 2**20
        acc["spark.shuffle_mb"] += w["shuffle_bytes"] / 2**20
        acc["streaming.batches"] += w["batches"]
    values = {k: v / len(traced) for k, v in acc.items()}
    values["server.bytes_per_row"] = o.bytes_per_row
    with_spans = type_medians(o.ops, traced=True, min_n=1)
    without = type_medians(o.ops, traced=False, min_n=1)
    kinds = sorted(set(with_spans) & set(without))
    ratio = stats.geomean([with_spans[k] for k in kinds]) / stats.geomean([without[k] for k in kinds])
    values["trace.overhead_pct"] = 100 * (ratio - 1)
    return {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in values.items()}
