"""One benchmark run inside its own process: start the Spark session, run
the workload, print the result line. Started by perfbench/run.py, which
sets the environment and the working directory."""

from __future__ import annotations

import argparse
import importlib
import json
import os
import time

T_START = time.perf_counter()

WORKLOADS = ("scan", "load")


def session(workdir: str, trace: bool):
    from marketdb_spark.session import get_session

    conf = {
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        # no hsperfdata file: the JVM would write it under /tmp, outside the
        # checkout, and its mmap writes can stall the JVM on a busy disk
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(workdir, 'tmp')}"
        ),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(workdir, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
        os.makedirs(conf["spark.eventLog.dir"])
    spark = get_session(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--spans", help="write the traced run's spans here")
    args = ap.parse_args()

    from perfbench import harness
    from perfbench.trace import NullTracer, Tracer, read_event_log

    spark = session(args.workdir, bool(args.trace))
    import marketdb_spark.queries  # noqa: F401  (program import is set-up work)

    ctx = harness.Context(
        spark=spark,
        seed=args.seed,
        seconds=args.seconds,
        workdir=args.workdir,
        tracer=Tracer() if args.trace else NullTracer(),
        boot_s=time.perf_counter() - T_START,
    )
    outcome = importlib.import_module(f"perfbench.{args.workload}").run(ctx)
    spark.stop()

    for line in harness.type_report(outcome):
        print(f"# {args.workload} {line}")
    reps = ", ".join(f"{r:.2f}" for r in outcome.setup_reps)
    print(f"# setup boot_s={ctx.boot_s:.2f} reps_s=[{reps}] timed_s={outcome.timed_s:.2f}"
          f" total_s={time.perf_counter() - T_START:.2f}")
    for note in outcome.notes:
        print(f"# problem: {note}")
    if args.trace:
        metrics = harness.per_layer(ctx, outcome, read_event_log(os.path.join(args.workdir, "eventlog")))
        if args.spans:
            for op in outcome.ops:  # the client-side span of each traced op
                if op.traced:
                    ctx.tracer.add("op", op.start, op.end, op.rid, kind=op.kind, ok=op.ok)
            ctx.tracer.dump(args.spans)
    else:
        metrics = harness.end_to_end(ctx, outcome)
    print(
        json.dumps(
            {
                "correct": outcome.correct,
                "attempted": outcome.attempted,
                "failed": outcome.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
