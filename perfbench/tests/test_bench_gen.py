"""Seeded inputs: one seed gives byte-identical inputs, another seed
different ones."""

from __future__ import annotations

import datetime as dt
import hashlib
import os

from perfbench import gen


def _market_bytes(seed: int) -> bytes:
    trades, orders = gen.market_frames(seed, 2000, 1000, 3)
    plan = gen.scan_plan(seed, trades, orders, 30, 3)
    return trades.to_csv().encode() + orders.to_csv().encode() + repr(plan).encode()


def _segment_bytes(seed: int, round_no: int) -> bytes:
    parts = gen.ingest_segment(seed, round_no, 500, dt.datetime(2024, 3, 20))
    return gen.segment_bytes(*parts, seed, round_no)


def _tables_digest(seed: int, out_dir: str) -> str:
    gen.write_tables(gen.query_tables(seed), out_dir)
    h = hashlib.sha256()
    for name in sorted(os.listdir(out_dir)):
        with open(os.path.join(out_dir, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


def test_market_inputs_repeat_per_seed():
    assert _market_bytes(5) == _market_bytes(5)
    assert _market_bytes(5) != _market_bytes(6)


def test_ingest_segments_repeat_per_seed():
    assert _segment_bytes(5, 3) == _segment_bytes(5, 3)
    assert _segment_bytes(5, 3) != _segment_bytes(6, 3)
    assert _segment_bytes(5, 3) != _segment_bytes(5, 4)


def test_ingest_segment_shares():
    fresh, bad, repeats = gen.ingest_segment(1, 2, 1000, dt.datetime(2024, 3, 20))
    prev, _, _ = gen.ingest_segment(1, 1, 1000, dt.datetime(2024, 3, 20))
    assert len(fresh) + len(bad) + len(repeats) == 1000
    assert len(bad) == 10 and len(repeats) == 50
    assert all(r in prev for r in repeats)
    ids = [e["trade_id"] for e in fresh + bad]
    assert len(set(ids)) == len(ids)
    assert not set(ids) & {e["trade_id"] for e in prev}


def test_query_tables_repeat_per_seed(tmp_path):
    a = _tables_digest(5, str(tmp_path / "a"))
    assert a == _tables_digest(5, str(tmp_path / "b"))
    assert a != _tables_digest(6, str(tmp_path / "c"))


def test_scan_plan_halves_share_the_mix():
    """The traced half (plan half 0) and the untraced half see the same
    (interval length, security) cells for every operation type, over any
    stretch of whole cells, so trace overhead compares like with like."""
    from collections import Counter

    trades, orders = gen.market_frames(3, 2000, 1000, 3)
    plan = gen.scan_plan(3, trades, orders, 2 * gen.PLAN_PERIOD, 3)

    def hours(interval):
        a, b = (dt.datetime.fromisoformat(x) for x in interval)
        return round((b - a).total_seconds() / 3600)

    def cells(reqs, half):
        return Counter(
            (p["op"], p["kind"], hours(p["interval"]), p["security"])
            for p in reqs if p["half"] == half
        )

    for end in range(gen.PLAN_CELL, len(plan) + 1, gen.PLAN_CELL):
        assert cells(plan[:end], 0) == cells(plan[:end], 1)
    types = Counter(f"{p['op']}_{p['kind']}" for p in plan[: gen.PLAN_CELL])
    assert types == Counter({t: 2 for t in gen.SCAN_TYPES})
