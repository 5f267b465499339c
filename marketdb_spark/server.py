"""Network query-service façade (SURVEY §2A W1).

The reference serves time-series scans over a finagle binary protocol:
clients Open a scan (getting a scanner handle), pull row batches, and
Close (marketdb-api/.../api/MarketDbProtocol.scala:17-203, served at
marketdb-app/.../MarketDbApp.scala:47-53). This is the same service
surface on plain TCP + newline-delimited JSON, with no Spark job per
request.

As the reference's server maps a request to a key range and reads the
store directly (MarketDB.scala:66-106), each scan is planned to the
partition directories it covers (``market=M``, each ``date=D`` in the
interval; listed per request, so no cache to invalidate) and read in
place with ``pyarrow.dataset``, the security and inclusive time bounds
pushed down to row-group statistics. Rows match the lazy Spark handles
(client.MarketDb): ordered by (time, event id), columns ending
``market``, ``date``. Server memory is one request's result; an open
cursor holds its result until exhausted or closed, at most
MAX_OPEN_SCANS of them.

Protocol (one JSON object per line, request → response(s)):

  {"op": "trades",  "market": M, "security": S, "interval": [a, b]}
      → one line per row, then {"done": <row count>}
  {"op": "orders",  ...same}                    → same shape
  {"op": "count",   "kind": "trades", ...}      → {"count": n}
  {"op": "open",    "kind": "trades", ...}      → {"scan_id": id}
  {"op": "next",    "scan_id": id, "n": 100}    → rows… then
                                                   {"batch_end": k, "exhausted": bool}
  {"op": "close",   "scan_id": id}              → {"closed": true}

The cursor ops mirror the reference's Open/ReadRows/Close scanner
lifecycle. BULK DATA LANE (op "fetch_arrow"): the same scan as one JSON
header line, then u32-BE-framed Arrow IPC streams (one per record batch
of ``batch_rows`` rows, each self-describing), then a zero-length
terminator frame — typed columnar batches a client hands to
pandas/duckdb without parsing.
"""

from __future__ import annotations

import io
import json
import os
import socket
import socketserver
import threading
from datetime import date, datetime, timezone
from typing import Any
from urllib.parse import unquote

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.fs as pafs

# each open scan holds its result: `open` is refused at this many until
# a `close` or an exhausted scan frees a slot
MAX_OPEN_SCANS = 1024

# Spark writes timestamps as INT96 by default; TimestampType is µs
_FORMAT = ds.ParquetFileFormat(
    read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="us")
)
_PARTITIONING = ds.partitioning(
    pa.schema([("market", pa.string()), ("date", pa.date32())]), flavor="hive"
)
_FILE = pafs.FileType.File


def _json_default(v: Any) -> str:
    return str(v)  # timestamps/decimals → ISO-ish strings


def _bound(v: str) -> datetime:
    """An interval end as a naive-UTC timestamp (the session time zone)."""
    t = datetime.fromisoformat(v)
    return t if t.tzinfo is None else t.astimezone(timezone.utc).replace(tzinfo=None)


def _visible(fs: pafs.FileSystem, d: str) -> list[pafs.FileInfo]:
    """The entries of ``d`` Spark reads: not ``_``- or ``.``-prefixed."""
    return [
        i for i in fs.get_file_info(pafs.FileSelector(d))
        if not i.base_name.startswith(("_", "."))
    ]


def _partitions(fs: pafs.FileSystem, d: str, key: str) -> dict[str, str]:
    """{unescaped value: path} of the ``key=value`` directories in ``d``."""
    return {
        unquote(i.base_name[len(key) + 1:]): i.path
        for i in _visible(fs, d)
        if i.base_name.startswith(key + "=") and i.type != _FILE
    }


def _first_file(fs: pafs.FileSystem, d: str) -> str | None:
    """The first data file under ``d`` in path order."""
    for i in sorted(_visible(fs, d), key=lambda i: i.base_name):
        f = i.path if i.type == _FILE else _first_file(fs, i.path)
        if f is not None:
            return f
    return None


class _Scan:
    """An open cursor; its lock serializes concurrent `next`s."""

    def __init__(self, table: pa.Table) -> None:
        self.table, self.pos, self.lock = table, 0, threading.Lock()


class _Handler(socketserver.StreamRequestHandler):
    def handle(self) -> None:
        server: MarketDbServer = self.server  # type: ignore[assignment]
        try:
            for raw in self.rfile:
                line = raw.strip()
                if not line:
                    continue
                try:
                    req = json.loads(line)
                    for out in server.dispatch(req):
                        if isinstance(out, tuple) and out[0] == "frame":
                            self._send_frame(out[1])
                        else:
                            self._send(out)
                except (BrokenPipeError, ConnectionResetError):
                    raise  # handled once, below — the client is gone
                except Exception as exc:  # malformed request must not kill the server
                    self._send({"error": f"{type(exc).__name__}: {exc}"})
        except (BrokenPipeError, ConnectionResetError):
            # the CLIENT hung up (mid-request or mid-response frame):
            # nothing to report and nobody to report it to — end this
            # handler quietly, the threaded server keeps serving other
            # connections
            return

    def _send(self, obj: dict) -> None:
        self.wfile.write(json.dumps(obj, default=_json_default).encode() + b"\n")
        self.wfile.flush()

    def _send_frame(self, payload: bytes) -> None:
        # u32-BE length prefix; zero length = end of frame sequence
        self.wfile.write(len(payload).to_bytes(4, "big") + payload)
        self.wfile.flush()


class _ThreadedTCPServer(socketserver.ThreadingTCPServer):
    daemon_threads = True
    allow_reuse_address = True


class MarketDbServer:
    """Serve MarketDb scans over TCP/ndjson from the stores that
    ``MarketDb.add_trades``/``add_orders`` write (the reference's
    MarketDbApp is likewise one process fronting the store). ``spark`` is
    kept for call compatibility; reads do not use it. ``port=0`` picks an
    ephemeral port — read ``self.port``."""

    def __init__(self, spark: Any, trades_path: str, orders_path: str,
                 host: str = "127.0.0.1", port: int = 0):
        self.trades_path, self.orders_path = trades_path, orders_path
        self._scans: dict[int, _Scan] = {}
        self._next_scan = 1
        self._lock = threading.Lock()
        self._tcp = _ThreadedTCPServer((host, port), _Handler)
        self._tcp.dispatch = self.dispatch  # handler looks this up per request
        self.host, self.port = self._tcp.server_address
        self._thread = threading.Thread(target=self._tcp.serve_forever, daemon=True)

    # -- lifecycle ---------------------------------------------------------
    def start(self) -> "MarketDbServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._tcp.shutdown()
        self._tcp.server_close()

    def __enter__(self) -> "MarketDbServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()

    # -- the one read path --------------------------------------------------
    def _read(self, req: dict) -> pa.Table:
        """The scan's rows: ``security`` in the inclusive interval, read
        from the date directories the interval covers, ordered by (time,
        event id), typed as Spark reads the store (nullable columns)."""
        if req.get("kind", req.get("op")) == "trades":
            path, id_col = self.trades_path, "trade_id"
        else:
            path, id_col = self.orders_path, "order_id"
        start, end = (_bound(v) for v in req["interval"])
        fs, root = pafs.FileSystem.from_uri(
            path if "://" in path else os.path.abspath(path)
        )
        market_dir = _partitions(fs, root, "market").get(req["market"])
        days = _partitions(fs, market_dir, "date") if market_dir else {}
        files = [
            i.path
            for d, p in days.items()
            if start.date() <= date.fromisoformat(d) <= end.date()
            for i in _visible(fs, p)
            if i.type == _FILE
        ]
        # Spark types a read by the footer of the store's first data file
        # (by path); appends may order their columns differently
        footer = _first_file(fs, root)
        if footer is None:
            raise FileNotFoundError(f"no parquet files under {path}")
        opts = dict(format=_FORMAT, filesystem=fs, partitioning=_PARTITIONING,
                    partition_base_dir=root)
        schema = pa.schema(
            [f.with_nullable(True) for f in ds.dataset([footer], **opts).schema]
        )
        t = ds.field("time")
        at = (ds.field("security") == req["security"]) & (t >= start) & (t <= end)
        table = ds.dataset(files, schema=schema, **opts).to_table(filter=at)
        return table.sort_by([("time", "ascending"), (id_col, "ascending")])

    # -- request dispatch (yields response objects) -------------------------
    def dispatch(self, req: dict):
        op = req.get("op")
        if op in ("trades", "orders"):
            rows = self._read(req).to_pylist()
            yield from rows
            yield {"done": len(rows)}
        elif op == "count":
            yield {"count": self._read(req).num_rows}
        elif op == "open":
            # the reference's Open → ScannerDescriptor handle
            scan = _Scan(self._read(req))
            with self._lock:
                if len(self._scans) >= MAX_OPEN_SCANS:
                    yield {"error": "too many open scans"}
                    return
                scan_id = self._next_scan
                self._next_scan += 1
                self._scans[scan_id] = scan
            yield {"scan_id": scan_id}
        elif op == "next":
            scan = self._scans.get(req["scan_id"])
            if scan is None:
                yield {"error": "unknown scan_id"}
                return
            with scan.lock:
                rows = scan.table.slice(scan.pos, int(req.get("n", 100))).to_pylist()
                scan.pos += len(rows)
                exhausted = scan.pos >= scan.table.num_rows
                if exhausted:
                    self._scans.pop(req["scan_id"], None)
            yield from rows
            yield {"batch_end": len(rows), "exhausted": exhausted}
        elif op == "fetch_arrow":
            yield from self._fetch_arrow(req)
        elif op == "close":
            self._scans.pop(req.get("scan_id"), None)
            yield {"closed": True}
        else:
            yield {"error": f"unknown op {op!r}"}

    def _fetch_arrow(self, req: dict):
        """Bulk lane: header, frames, zero-length terminator, then ONE
        JSON status line ({"frames_done": k} | {"error": ...}).

        The scan is read before the header, so a failed read is one JSON
        error line the client raises. Errors after the header stay
        IN-BAND: a JSON line where the client expects a length prefix
        would read as a bogus u32 and hang the connection, so a failure
        still sends the terminator and reports through the status line
        (the client re-raises it instead of returning a truncated
        table)."""
        table = self._read(req)
        batch_rows = max(int(req.get("batch_rows", 4096)), 1)
        yield {"arrow_frames": True, "framing": "u32be", "schema": str(table.schema)}
        done = 0
        try:
            # an EMPTY scan still sends one frame, schema only, so the
            # client builds a typed-empty table
            for part in table.to_batches(max_chunksize=batch_rows) or [table]:
                sink = io.BytesIO()
                with pa.ipc.new_stream(sink, table.schema) as w:
                    w.write(part)
                yield ("frame", sink.getvalue())
                done += 1
        except Exception as exc:
            yield ("frame", b"")
            yield {"error": f"{type(exc).__name__}: {exc}"}
            return
        yield ("frame", b"")
        yield {"frames_done": done}


def fetch_arrow(host: str, port: int, req: dict, timeout: float = 60.0):
    """Bulk-lane client: send one fetch_arrow request, return the result
    as a pyarrow Table (concatenation of the framed record batches).
    Short reads raise ConnectionError (a dropped server must never look
    like a clean terminator → silently truncated table), and the
    trailing status line re-raises mid-stream server failures."""
    def read_exact(rfile, n: int) -> bytes:
        buf = b""
        while len(buf) < n:
            chunk = rfile.read(n - len(buf))
            if not chunk:
                raise ConnectionError(
                    f"fetch_arrow stream truncated: expected {n} bytes, "
                    f"got {len(buf)} before EOF"
                )
            buf += chunk
        return buf

    req = {**req, "op": "fetch_arrow"}
    with socket.create_connection((host, port), timeout=timeout) as sock:
        sock.sendall(json.dumps(req).encode() + b"\n")
        rfile = sock.makefile("rb")
        header = json.loads(rfile.readline())
        if "error" in header:
            raise RuntimeError(header["error"])
        if header.get("framing") != "u32be":
            # explicit raise, not assert: `python -O` strips asserts and
            # a mismatched server would then surface as a confusing
            # downstream framing error
            raise RuntimeError(f"unexpected fetch_arrow framing: {header}")
        batches = []
        schema = None
        while True:
            n = int.from_bytes(read_exact(rfile, 4), "big")
            if n == 0:
                break
            with pa.ipc.open_stream(read_exact(rfile, n)) as r:
                schema = schema or r.schema
                batches.extend(r)
        status_line = rfile.readline()
        if not status_line:
            raise ConnectionError(
                "fetch_arrow stream truncated: no status line after the "
                "terminator"
            )
        status = json.loads(status_line)
        if "error" in status:
            raise RuntimeError(status["error"])
        return pa.Table.from_batches(batches, schema=schema)


def request(host: str, port: int, req: dict, timeout: float = 60.0) -> list[dict]:
    """Tiny client: send one request, read response lines until the
    terminator ({'done'|'count'|'scan_id'|'batch_end'|'closed'|'error'})."""
    terminators = {"done", "count", "scan_id", "batch_end", "closed", "error"}
    out: list[dict] = []
    with socket.create_connection((host, port), timeout=timeout) as sock:
        sock.sendall(json.dumps(req).encode() + b"\n")
        buf = sock.makefile("r")
        for line in buf:
            obj = json.loads(line)
            out.append(obj)
            if terminators & obj.keys():
                break
    return out
