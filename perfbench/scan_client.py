"""The ``scan`` workload's client process: a closed loop over the request
plan through the program's own clients (``server.request`` and
``server.fetch_arrow``), one connection at a time. Each response's row
count and id order are checked against the plan. Writes a JSON report.

The warm-up sends ``--warm`` requests from the middle of the plan; the
timed loop sends ``--requests`` from plan index 0, so every run times the
same sequence of request cells. In a traced run, requests of plan half 0
record spans and those of half 1 do not.

Run by perfbench/scan.py; standalone use:
  python3 -m perfbench.scan_client --port P --plan plan.json --out out.json \\
      --warm 24 --requests 144
"""

from __future__ import annotations

import argparse
import json
import time

from perfbench.gen import id_hash

CURSOR_PAGE = 100  # rows per `next`: the server's default page


def _ids(rows: list[dict], kind: str) -> list[int]:
    key = "trade_id" if kind == "trades" else "order_id"
    return [r[key] for r in rows]


def one(host: str, port: int, p: dict, rid: int | None) -> tuple[int, str, int, int]:
    """Run one planned request; returns (rows, id hash, payload bytes,
    parts): parts is the number of `next` pages or Arrow frames that
    carried rows, 0 for a count."""
    from marketdb_spark.server import fetch_arrow, request

    req = {k: p[k] for k in ("kind", "market", "security", "interval")}
    if rid is not None:
        req["rid"] = rid
    if p["op"] == "count":
        last = request(host, port, {**req, "op": "count"})[-1]
        if "count" not in last:
            raise RuntimeError(f"count: {last}")
        return last["count"], p["expect_hash"], 0, 0
    if p["op"] == "arrow":
        table = fetch_arrow(host, port, req)
        key = "trade_id" if p["kind"] == "trades" else "order_id"
        frames = sum(b.num_rows > 0 for b in table.to_batches())
        return table.num_rows, id_hash(table.column(key).to_pylist()), table.nbytes, frames
    opened = request(host, port, {**req, "op": "open"})[-1]
    if "scan_id" not in opened:
        raise RuntimeError(f"open: {opened}")
    rows: list[dict] = []
    nbytes = pages = 0
    while True:
        batch = request(
            host, port,
            {"op": "next", "scan_id": opened["scan_id"], "n": CURSOR_PAGE,
             **({"rid": rid} if rid is not None else {})},
        )
        end = batch[-1]
        if "batch_end" not in end:
            raise RuntimeError(f"next: {end}")
        rows.extend(batch[:-1])
        pages += end["batch_end"] > 0
        if end["exhausted"]:
            break
    request(host, port, {"op": "close", "scan_id": opened["scan_id"],
                         **({"rid": rid} if rid is not None else {})})
    if rid is not None:
        nbytes = sum(len(json.dumps(r, default=str)) + 1 for r in rows)
    return len(rows), id_hash(_ids(rows, p["kind"])), nbytes, pages


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--plan", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--warm", type=int, required=True, help="untimed requests first")
    ap.add_argument("--requests", type=int, required=True, help="timed requests")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(args.plan) as f:
        plan = json.load(f)
    errors: list[str] = []

    def send(i: int, p: dict, traced: bool) -> dict:
        start = time.time()
        err, rows, nbytes, parts = None, 0, 0, 0
        try:
            rows, digest, nbytes, parts = one(args.host, args.port, p, i if traced else None)
            if rows != p["expect_rows"] or digest != p["expect_hash"]:
                err = (f"{p['op']} {p['kind']} {p['security']} {p['interval']}:"
                       f" rows {rows} (want {p['expect_rows']})")
        except Exception as exc:  # a failed request is counted, never dropped
            err = f"{type(exc).__name__}: {exc}"
        end = time.time()
        if err:
            errors.append(err)
        return {"type": f"{p['op']}_{p['kind']}", "start": start, "end": end,
                "traced": traced, "rid": i, "ok": err is None, "error": err,
                "rows": rows, "parts": parts, "bytes": nbytes}

    warm = [send(i, plan[(len(plan) // 2 + i) % len(plan)], False) for i in range(args.warm)]
    ops: list[dict] = []
    t0 = time.perf_counter()
    for i in range(args.requests):
        p = plan[i % len(plan)]
        ops.append(send(i, p, bool(args.trace) and p["half"] == 0))
    timed_s = time.perf_counter() - t0
    with open(args.out, "w") as f:
        json.dump({"ops": ops, "timed_s": timed_s, "warm": len(warm),
                   "warm_failed": sum(not o["ok"] for o in warm), "errors": errors}, f)


if __name__ == "__main__":
    main()
