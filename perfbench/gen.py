"""Seeded input generators. Every generator takes a ``numpy`` Generator
built from the benchmark's ``--seed``, so one seed always yields the same
bytes and the program under test only ever sees generated inputs.

Three input families:

* ``market_frames`` — trades and orders for the ``scan`` workload:
  Zipf-skewed securities over two markets and several trading days.
* ``ingest_segment`` — one ndjson segment of trade events per ``load``
  round, with a fixed share of invalid events and of events repeated
  from the previous round.
* ``query_tables`` — a small TPC-H-shaped table set (plus the events,
  documents and embeddings tables) with the schemas the query registry
  reads, for the queries of the ``load`` workload.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import numpy as np
import pandas as pd

MARKETS = ("M0", "M1")
N_SECURITIES = 200
DAY0 = dt.datetime(2024, 3, 4)
US_PER_DAY = 86_400_000_000


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per input family, so adding draws to one
    family never shifts another's inputs."""
    tag = sum(ord(c) * 131**i for i, c in enumerate(stream)) % 2**32
    return np.random.default_rng([seed, tag])


def zipf_weights(n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def securities() -> list[str]:
    return [f"S{i:03d}" for i in range(N_SECURITIES)]


def by_popularity(seed: int) -> list[str]:
    """Security names in Zipf-rank order: the seed decides which name is
    how popular."""
    perm = rng_for(seed, "popularity").permutation(N_SECURITIES)
    return [securities()[int(k)] for k in perm]


def _times(rng: np.random.Generator, n: int, days: int) -> np.ndarray:
    us = rng.integers(0, days * US_PER_DAY // 1000, n) * 1000  # ms grain
    return np.datetime64(DAY0, "us") + us.astype("timedelta64[us]")


def market_frames(
    seed: int, n_trades: int, n_orders: int, days: int
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Trades and orders with ids unique per kind. Prices are integer
    cents (``price_cents``) so the loader can cast them to the store's
    exact decimal type."""
    rng = rng_for(seed, "market")
    sec = np.array(by_popularity(seed))
    w = zipf_weights(N_SECURITIES)
    trades = pd.DataFrame(
        {
            "market": np.array(MARKETS)[rng.integers(0, len(MARKETS), n_trades)],
            "security": sec[rng.choice(N_SECURITIES, n_trades, p=w)],
            "trade_id": rng.permutation(n_trades).astype(np.int64),
            "price_cents": rng.integers(100, 100_000, n_trades),
            "amount": rng.integers(1, 1000, n_trades).astype(np.int32),
            "time": _times(rng, n_trades, days),
            "nosystem": rng.random(n_trades) < 0.1,
        }
    )
    amount = rng.integers(1, 1000, n_orders).astype(np.int32)
    orders = pd.DataFrame(
        {
            "market": np.array(MARKETS)[rng.integers(0, len(MARKETS), n_orders)],
            "security": sec[rng.choice(N_SECURITIES, n_orders, p=w)],
            "order_id": rng.permutation(n_orders).astype(np.int64),
            "time": _times(rng, n_orders, days),
            "status": rng.integers(0, 4, n_orders).astype(np.int32),
            "action": rng.integers(0, 3, n_orders).astype(np.int16),
            "dir": rng.choice(np.array([-1, 1], dtype=np.int16), n_orders),
            "price_cents": rng.integers(100, 100_000, n_orders),
            "amount": amount,
            "amount_rest": (amount * rng.random(n_orders)).astype(np.int32),
            "deal_id": np.where(
                rng.random(n_orders) < 0.3, rng.integers(0, 1 << 40, n_orders), -1
            ),
            "deal_cents": rng.integers(100, 100_000, n_orders),
        }
    )
    return trades, orders


SCAN_OPS = ("count", "cursor", "arrow")
KINDS = ("trades", "orders")
# the scan workload's operation types, in the order of their metric slots
SCAN_TYPES = tuple(f"{op}_{kind}" for kind in KINDS for op in SCAN_OPS)
PLAN_HOURS = (1, 4, 12, 24)  # interval lengths the plan cycles through
PLAN_RANKS = (0, 2, 8)  # popularity ranks the plan cycles through
PLAN_CELL = 2 * len(SCAN_TYPES)  # requests per (interval length, rank) cell
PLAN_PERIOD = PLAN_CELL * len(PLAN_HOURS) * len(PLAN_RANKS)


def scan_plan(
    seed: int, trades: pd.DataFrame, orders: pd.DataFrame, n: int, days: int
) -> list[dict]:
    """The request sequence of the ``scan`` client, with the expected
    row count and id-order hash of every request.

    Each run of six requests sends every operation type (op × kind) once;
    the next six send them again with the same interval length and
    security rank, and ``half`` tells the two runs apart, so the traced
    and the untraced half of a traced run see the same mix per type. Then
    the cell moves on: interval length (1 h to a full day) fastest, then
    popularity rank, which repeats every ``PLAN_PERIOD`` requests. The
    security at each rank, and each request's market, day and start hour,
    come from the seed."""
    rng = rng_for(seed, "scan_plan")
    sec = by_popularity(seed)
    groups = {
        kind: {k: g for k, g in df.groupby(["market", "security"], sort=False)}
        for kind, df in (("trades", trades), ("orders", orders))
    }
    plan = []
    for i in range(n):
        op, kind = SCAN_OPS[i % 3], KINDS[(i // 3) % 2]
        cell = i // PLAN_CELL
        hours = PLAN_HOURS[cell % len(PLAN_HOURS)]
        security = sec[PLAN_RANKS[(cell // len(PLAN_HOURS)) % len(PLAN_RANKS)]]
        market = MARKETS[int(rng.integers(0, len(MARKETS)))]
        start_h = int(rng.integers(0, 24 - hours + 1))
        day = DAY0 + dt.timedelta(days=int(rng.integers(0, days)))
        a = day + dt.timedelta(hours=start_h)
        b = a + dt.timedelta(hours=hours) - dt.timedelta(milliseconds=1)
        g = groups[kind].get((market, security))
        id_col = "trade_id" if kind == "trades" else "order_id"
        ids: list[int] = []
        if g is not None:
            sel = g[(g["time"] >= a) & (g["time"] <= b)]
            ids = sel.sort_values(["time", id_col])[id_col].tolist()
        plan.append(
            {
                "op": op,
                "kind": kind,
                "market": market,
                "security": security,
                "interval": [str(a), str(b)],
                "half": (i // len(SCAN_TYPES)) % 2,
                "expect_rows": len(ids),
                "expect_hash": id_hash(ids),
            }
        )
    return plan


def id_hash(ids) -> str:
    """Order-sensitive digest of an id sequence."""
    return hashlib.md5(",".join(map(str, ids)).encode()).hexdigest()


# -- ingest -----------------------------------------------------------------

INVALID_SHARE = 0.01
REPEAT_SHARE = 0.05


def _events(rng: np.random.Generator, count: int, first_id: int, hour: dt.datetime) -> list[dict]:
    sec = np.array(securities())[rng.choice(N_SECURITIES, count, p=zipf_weights(N_SECURITIES))]
    mk = np.array(MARKETS)[rng.integers(0, len(MARKETS), count)]
    ms = np.sort(rng.integers(0, 3_600_000, count))
    cents = rng.integers(100, 100_000, count)
    amt = rng.integers(1, 1000, count)
    out = []
    for j in range(count):
        t = hour + dt.timedelta(milliseconds=int(ms[j]))
        out.append(
            {
                "market": str(mk[j]),
                "security": str(sec[j]),
                "trade_id": first_id + j,
                "price": f"{cents[j] // 100}.{cents[j] % 100:02d}",
                "amount": int(amt[j]),
                "time": t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}Z",
                "nosystem": False,
            }
        )
    return out


def _fresh(seed: int, round_no: int, n: int, hour0: dt.datetime) -> list[dict]:
    n_new = n - max(1, int(n * INVALID_SHARE)) - (int(n * REPEAT_SHARE) if round_no > 0 else 0)
    hour = hour0 + dt.timedelta(hours=round_no)
    # ids: round r owns [r * 10 * n, (r + 1) * 10 * n)
    return _events(rng_for(seed, f"fresh{round_no}"), n_new, round_no * 10 * n, hour)


def ingest_segment(
    seed: int, round_no: int, n: int, hour0: dt.datetime
) -> tuple[list[dict], list[dict], list[dict]]:
    """Round ``round_no``'s events: (fresh valid, invalid, repeated).

    Fresh events fall in hour ``hour0 + round_no`` and carry ids unique
    across rounds; invalid ones fail exactly one validation rule; repeats
    are exact copies of fresh events of the previous round (at-least-once
    redelivery)."""
    fresh = _fresh(seed, round_no, n, hour0)
    n_bad = max(1, int(n * INVALID_SHARE))
    hour = hour0 + dt.timedelta(hours=round_no)
    bad = _events(rng_for(seed, f"bad{round_no}"), n_bad, round_no * 10 * n + len(fresh), hour)
    for j, e in enumerate(bad):
        if j % 3 == 0:
            e["price"] = "-1.00"
        elif j % 3 == 1:
            e["amount"] = 0
        else:
            e["security"] = ""
    repeats: list[dict] = []
    if round_no > 0:
        prev = _fresh(seed, round_no - 1, n, hour0)
        pick = rng_for(seed, f"repeat{round_no}").choice(len(prev), int(n * REPEAT_SHARE), replace=False)
        repeats = [prev[int(k)] for k in sorted(pick)]
    return fresh, bad, repeats


def segment_bytes(fresh: list[dict], bad: list[dict], repeats: list[dict], seed: int, round_no: int) -> bytes:
    """The ndjson segment: all events in a seeded shuffled order."""
    evs = fresh + bad + repeats
    order = rng_for(seed, f"order{round_no}").permutation(len(evs))
    return ("\n".join(json.dumps(evs[int(k)]) for k in order) + "\n").encode()


# -- query tables -------------------------------------------------------------

WORDS = (
    "a the data query table part join scan filter sort merge window hash "
    "stream batch key value row column line order customer group agg spark "
    "small big fast slow vector"
).split()


def _ts(base: dt.datetime, rng: np.random.Generator, n: int, span_days: int) -> np.ndarray:
    us = rng.integers(0, span_days * US_PER_DAY, n)
    return np.datetime64(base, "us") + us.astype("timedelta64[us]")


def _day_ts(base: dt.datetime, rng: np.random.Generator, n: int, span_days: int) -> np.ndarray:
    d = rng.integers(0, span_days, n)
    return np.datetime64(base, "us") + (d * US_PER_DAY).astype("timedelta64[us]")


def query_tables(seed: int, scale: int = 1) -> dict[str, pd.DataFrame]:
    """The registry's ten tables at ``scale`` thousandths of TPC-H sf1
    (scale=1: 6000 lineitems), same columns and types as the reference
    test data."""
    rng = rng_for(seed, "tables")
    n_cust, n_supp, n_part = 150 * scale, 10 * scale, 200 * scale
    n_ord, n_li, n_ev, n_doc = 1500 * scale, 6000 * scale, 1000 * scale, 500 * scale
    i32, i64, f32 = np.int32, np.int64, np.float32
    t = {}
    t["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype=i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    adj = ["small", "red", "blue", "hot", "green", "large", "cold", "dark"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "anvil", "valve", "spring"]
    t["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=i64),
            "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(n_part)],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype(i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=i64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
            "o_orderdate": _day_ts(dt.datetime(1995, 1, 1), rng, n_ord, 2400),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }
    )
    qty = rng.integers(1, 51, n_li).astype(float)
    partkey = rng.integers(0, n_part, n_li).astype(i64)
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": np.sort(rng.integers(0, n_ord, n_li)).astype(i64),
            "l_partkey": partkey,
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(i64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(i32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * t["part"]["p_retailprice"].to_numpy()[partkey], 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _day_ts(dt.datetime(1995, 1, 2), rng, n_li, 2500),
        }
    )
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=i64),
            "ts": np.sort(_ts(dt.datetime(2024, 1, 1), rng, n_ev, 30)),
            "user_id": rng.integers(0, 150, n_ev).astype(i64),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
            "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        }
    )
    # documents: a base pool plus near-duplicates (one word changed) and
    # exact copies, so the dedup queries find real pairs
    base = [
        " ".join(rng.choice(WORDS, int(rng.integers(10, 80))))
        for _ in range(n_doc * 7 // 10)
    ]
    texts = list(base)
    while len(texts) < n_doc:
        src = base[int(rng.integers(0, len(base)))].split()
        if rng.random() < 0.5:
            src[int(rng.integers(0, len(src)))] = str(rng.choice(WORDS))
        texts.append(" ".join(src))
    t["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_doc, dtype=i64),
            "text": texts,
            "lang": rng.choice(["de", "en", "es", "fr", "zh"], n_doc),
            "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
            "n_chars": np.array([len(x) for x in texts], dtype=i64),
        }
    )
    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n_doc)
    emb = centers[label] + rng.normal(0, 0.5, (n_doc, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(f32)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_doc, dtype=i64),
            "embedding": list(emb),
            "label": label.astype(i32),
        }
    )
    return t


def write_tables(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    """One flat ``<name>.parquet`` file per table, the layout the registry
    and the DuckDB oracles read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.set_column(
                1, "embedding", pa.array(df["embedding"].tolist(), pa.list_(pa.float32()))
            )
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
