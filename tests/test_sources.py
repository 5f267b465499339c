"""RTS CSV parsing + quarantine, uid dictionary, idempotent store —
mirrors the reference's loader and write-path suites (SURVEY §5:
TradeDataIterateeTest, MarketDbTradesTest reject cases, UIDProviderTest)."""

from __future__ import annotations

import json
import os
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from marketdb_spark.sources.rts_csv import parse_trades, read_rts_csv
from marketdb_spark.sources.store import idempotent_append, read_store, write_partitioned
from marketdb_spark.sources.uid import build_uid, decode, encode, validate_uid

RTS_LINES = """code;contract;price;amount;time;trade_id;nosystem
RIH3;RTS-3.13;152070.00000;2;2013-02-01 10:00:00.047;424524580;0
RIH3;RTS-3.13;152075.50000;1;2013-02-01 10:00:01.115;424524581;1

code;contract;price;amount;time;trade_id;nosystem
RIM3;RTS-6.13;153000.00000;5;2013-02-01 10:00:02.000;424524582;0
RIH3;RTS-3.13;not_a_price;2;2013-02-01 10:00:03.000;424524583;0
RIH3;;152070.00000;2;2013-02-01 10:00:04.000;424524584;0
RIH3;RTS-3.13;152070.00000;-2;2013-02-01 10:00:05.000;424524585;0
"""


@pytest.fixture(scope="module")
def rts_file(tmp_path_factory):
    p = tmp_path_factory.mktemp("rts") / "FT130201.csv"
    p.write_text(RTS_LINES)
    return str(p)


class TestRtsCsv:
    def test_parse_split(self, spark, rts_file):
        valid, quarantine = parse_trades(read_rts_csv(spark, rts_file))
        v = valid.orderBy("trade_id").collect()
        assert [r.trade_id for r in v] == [424524580, 424524581, 424524582]
        assert v[0].market == "RTS" and v[0].security == "RTS-3.13"
        assert v[0].price == Decimal("152070.00000000")
        assert v[0].nosystem is False and v[1].nosystem is True
        assert v[0].time.microsecond == 47000  # .047 ms parsed

        q = {
            json.loads(r.payload)["trade_id"]: r.reject_reason
            for r in quarantine.collect()
        }
        assert q["424524583"] == "bad price"
        assert q["424524584"] == "missing contract"
        assert q["424524585"] == "non-positive amount"
        assert {r.source for r in quarantine.collect()} == {"rts_csv"}

    def test_headers_and_blanks_skipped(self, spark, rts_file):
        valid, quarantine = parse_trades(read_rts_csv(spark, rts_file))
        # 8 physical lines: 2 headers + 1 blank skipped, 3 valid, 3 rejects
        assert valid.count() + quarantine.count() == 6


class TestRtsZip:
    def test_zip_roundtrip(self, spark, tmp_path):
        """CSV-in-ZIP source (S3): only the requested suffix loads —
        *ft.csv = futures trades, *ot.csv = options trades (same format,
        TradeData.scala:33-34); junk entries are ignored."""
        import zipfile

        from marketdb_spark.sources.rts_csv import read_rts_zip

        opt_lines = (
            "code;contract;price;amount;time;trade_id;nosystem\n"
            "RIH3;RTS-O-130213;95.5;1;2013-02-01 10:00:00.000;500000001;0\n"
        )
        zp = tmp_path / "FT130201.zip"
        with zipfile.ZipFile(zp, "w") as zf:
            zf.writestr("day/FT130201ft.csv", RTS_LINES)
            zf.writestr("day/FT130201ot.csv", opt_lines)
            zf.writestr("readme.txt", "junk")
        valid, quarantine = parse_trades(
            read_rts_zip(spark, str(zp), str(tmp_path / "work"))
        )
        assert valid.count() == 3 and quarantine.count() == 3
        # options trades load through the same parser with the ot suffix
        from marketdb_spark.sources.rts_csv import read_rts_zip as rz

        ov, oq = parse_trades(
            rz(spark, str(zp), str(tmp_path / "work_ot"), entry_suffix="ot.csv")
        )
        assert ov.count() == 1 and oq.count() == 0

    def test_zip_without_trades_entry_raises(self, spark, tmp_path):
        import zipfile

        from marketdb_spark.sources.rts_csv import read_rts_zip

        zp = tmp_path / "empty.zip"
        with zipfile.ZipFile(zp, "w") as zf:
            zf.writestr("readme.txt", "junk")
        with pytest.raises(FileNotFoundError):
            read_rts_zip(spark, str(zp), str(tmp_path / "work"))


class TestResolver:
    def test_local_then_remote_mirror_cache(self, tmp_path):
        """local ≺ remote fallback with mirror caching
        (TradeResolver.scala:10-57, DataRef.scala:70-110) — remote served
        from a file:// base so no network is involved."""
        import datetime as dt

        from marketdb_spark.sources.resolver import RefResolver, day_archive_name

        day = dt.date(2012, 2, 1)
        name = day_archive_name(day)
        assert name == "FT120201.zip"

        remote = tmp_path / "remote"
        remote.mkdir()
        (remote / name).write_bytes(b"zipbytes")
        mirror = tmp_path / "mirror"

        r = RefResolver(str(mirror), remote_base=remote.as_uri())
        # miss locally → downloaded into the mirror
        p = r.resolve(day)
        assert p is not None and p.read_bytes() == b"zipbytes"
        assert (mirror / name).exists()
        # second resolve hits the mirror even if the remote disappears
        (remote / name).unlink()
        assert r.resolve(day) == mirror / name
        # unknown day, no remote copy → None
        assert r.resolve(dt.date(2012, 2, 2)) is None

    def test_resolve_interval_expands_days(self, tmp_path):
        import datetime as dt

        from marketdb_spark.sources.resolver import RefResolver

        r = RefResolver(str(tmp_path / "mirror"))
        got = r.resolve_interval(dt.date(2012, 2, 1), dt.date(2012, 2, 3))
        assert list(got) == [dt.date(2012, 2, 1 + i) for i in range(3)]
        assert all(v is None for v in got.values())


class TestClient:
    def test_quickstart_parity(self, spark, trades_df, orders_df, tmp_path):
        """The reference quick-start (README.md:119-155): store trades,
        scan (market, security, interval), run the counter fold — plus the
        heterogeneous merge the iteratee layer offered."""
        from marketdb_spark.client import MarketDb

        db = MarketDb(
            spark,
            trades_path=str(tmp_path / "trades"),
            orders_path=str(tmp_path / "orders"),
        )
        db.add_trades(trades_df)
        db.add_orders(orders_df)

        import datetime as dt

        from tests.conftest import BASE

        interval = (BASE, BASE + dt.timedelta(minutes=9))
        ts = db.trades("RTS", "RTS-3.14", interval)  # lazy handle
        assert ts.count() == 10  # counter fold (MarketIteratees.scala:7-21)
        times = [r.time for r in ts.collect()]
        assert times == sorted(times)

        merged = MarketDb.merge(
            db.trades("RTS", "RTS-3.14", interval),
            db.orders("RTS", "RTS-3.13", interval),
            kinds=["trade", "order"],
        )
        rows = merged.collect()
        assert {r.kind for r in rows} == {"trade", "order"}
        keys = [(r.time, r.kind) for r in rows]
        assert keys == sorted(keys)

        # idempotent re-ingest through the client surface
        db.add_trades(trades_df)
        assert db.trades("RTS", "RTS-3.14", interval).count() == 10

    def test_client_ohlc_and_compact(self, spark, trades_df, tmp_path):
        """db.ohlc: price OHLC + amount volume for one instrument; ties
        resolved on trade_id; db.compact is a no-op on an already-compact
        store but reports the census."""
        import datetime as dt
        from decimal import Decimal

        from marketdb_spark.client import MarketDb
        from tests.conftest import BASE

        db = MarketDb(spark, trades_path=str(tmp_path / "trades"))
        db.add_trades(trades_df)
        interval = (BASE, BASE + dt.timedelta(minutes=9))
        bars = db.ohlc("RTS", "RTS-3.13", interval, bar="hour").collect()
        assert len(bars) == 1  # every fixture trade sits in one hour
        bar = bars[0]
        # fixture: the 10 per-minute trades (price 152070.5+i, amount 1+i)
        # PLUS the two sub-minute straddle rows (amount 2 each) — the scan
        # interval is end-inclusive, so all 12 land in the bar
        assert bar.open == Decimal("152070.5")
        assert bar.close == Decimal("152079.5")
        assert (bar.high, bar.low) == (Decimal("152079.5"), Decimal("152070.5"))
        assert bar.volume == sum(range(1, 11)) + 4
        assert bar.n_events == 12

        stats = db.compact()
        assert stats["files_before"] == stats["files_after"] > 0
        assert stats["partitions_rewritten"] == 0


class TestUid:
    def test_dense_deterministic(self, spark, trades_df):
        uid = build_uid(trades_df, {"Market": "market", "Security": "security"})
        rows = {(r.kind, r.name): r.id for r in uid.collect()}
        assert rows[("Market", "RTS")] == 1
        assert rows[("Security", "RTS-3.13")] == 1
        assert rows[("Security", "RTS-3.14")] == 2
        # deterministic across rebuilds (the reference needed row locks
        # and retries for this — UIDProvider.scala:267-324)
        again = {(r.kind, r.name): r.id for r in
                 build_uid(trades_df, {"Market": "market", "Security": "security"}).collect()}
        assert rows == again
        assert validate_uid(uid).count() == 0

    def test_update_uid_get_or_create(self, spark, trades_df):
        """Incremental dictionary update: existing ids NEVER change (the
        reference's ids-are-forever invariant), new names extend the id
        space past the per-kind max, and re-applying the same batch is a
        no-op — the three properties UIDProviderTest pins with scripted
        races, structurally guaranteed here."""
        from marketdb_spark.sources.uid import update_uid

        uid0 = build_uid(trades_df, {"Market": "market", "Security": "security"})
        before = {(r.kind, r.name): r.id for r in uid0.collect()}

        batch2 = spark.createDataFrame(
            [("FORTS", "RTS-3.13"), ("FORTS", "Si-6.13"), ("RTS", "RTS-3.15")],
            "market string, security string",
        )
        uid1 = update_uid(uid0, batch2, {"Market": "market", "Security": "security"})
        after = {(r.kind, r.name): r.id for r in uid1.collect()}
        # old ids untouched
        assert all(after[k] == v for k, v in before.items())
        # new names appended past the old max, dense and deterministic
        assert after[("Market", "FORTS")] == 2
        assert after[("Security", "RTS-3.15")] == 3
        assert after[("Security", "Si-6.13")] == 4
        # idempotent re-apply
        uid2 = update_uid(uid1, batch2, {"Market": "market", "Security": "security"})
        assert {(r.kind, r.name): r.id for r in uid2.collect()} == after
        # no conflicts: one id per name, one name per id (UIDCache's
        # bidirectional validation, UIDProvider.scala:350-402)
        assert uid1.groupBy("kind", "name").count().filter("count > 1").count() == 0
        assert uid1.groupBy("kind", "id").count().filter("count > 1").count() == 0

    def test_encode_decode_roundtrip(self, spark, trades_df):
        uid = build_uid(trades_df, {"Market": "market", "Security": "security"})
        enc = encode(trades_df, uid, "Security", "security", "security_id")
        assert enc.filter(F.col("security_id").isNull()).count() == 0
        dec = decode(
            enc.drop("security"), uid, "Security", "security_id", "security"
        )
        assert (
            dec.filter(F.col("security") == "RTS-3.14").count()
            == trades_df.filter(F.col("security") == "RTS-3.14").count()
        )


class TestStore:
    def test_partitioned_roundtrip(self, spark, trades_df, tmp_path):
        path = str(tmp_path / "store")
        write_partitioned(trades_df, path)
        back = read_store(spark, path)
        assert back.count() == trades_df.count()
        assert "date" in back.columns  # partition column materialized
        # partition pruning surface: filter by market+date prunes directories
        plan = back.filter(
            (F.col("market") == "RTS") & (F.col("date") == "2013-02-01")
        )._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan or "partitionFilters" in plan.lower()

    def test_write_partitioned_dedups_within_frame(self, spark, tmp_path):
        """Dedup-on-write by the natural key, now computed on the single
        placement exchange (no separate full-key shuffle): exact duplicate
        keys collapse — including null key fields compared nulls-equal,
        dropDuplicates semantics — and each (market, date) partition dir
        still holds one file per append."""
        import glob

        rows = [
            ("RTS", "A", "2013-02-01 10:00:00", 1, 10.0),
            ("RTS", "A", "2013-02-01 10:00:00", 1, 10.0),  # exact dup key
            ("RTS", "A", "2013-02-01 10:00:00", 2, 11.0),
            ("FX", "B", "2013-02-02 09:00:00", 3, 12.0),
            ("FX", None, "2013-02-02 09:00:00", 3, 13.0),  # null key field
            ("FX", None, "2013-02-02 09:00:00", 3, 14.0),  # dup via nulls-equal
        ]
        df = spark.createDataFrame(
            rows,
            "market string, security string, time string, "
            "trade_id long, price double",
        ).withColumn("time", F.col("time").cast("timestamp"))
        path = str(tmp_path / "store")
        write_partitioned(df, path)
        back = read_store(spark, path)
        assert back.count() == 4  # 6 in, 2 dups dropped
        # one surviving row per distinct key
        assert (
            back.select("market", "security", "time", "trade_id")
            .distinct()
            .count()
            == 4
        )
        # one file per (market, date) dir per append
        for d in glob.glob(f"{path}/market=*/date=*"):
            assert len(glob.glob(f"{d}/*.parquet")) == 1, d

    def test_bloom_filter_written(self, spark, trades_df, tmp_path):
        """Bloom filters on the event id (HBase ROW-bloom parity,
        create_tables.sh:36-39): same rows written with blooms must carry
        extra filter bytes vs a bloom-less write, and read back identically.
        (This pyarrow build exposes no bloom footer API, so presence is
        asserted via the on-disk delta.)"""
        import glob

        def total_bytes(p):
            import os

            return sum(
                os.path.getsize(f)
                for f in glob.glob(f"{p}/**/*.parquet", recursive=True)
            )

        with_bloom = str(tmp_path / "bloom")
        without = str(tmp_path / "plain")
        write_partitioned(trades_df, with_bloom)
        write_partitioned(trades_df, without, bloom_cols=[])
        assert total_bytes(with_bloom) > total_bytes(without)
        assert (
            read_store(spark, with_bloom).orderBy("trade_id").collect()
            == read_store(spark, without).orderBy("trade_id").collect()
        )

    def test_expire_store_drops_old_partitions(self, spark, trades_df, tmp_path):
        """Retention (install/drop_tables.sh analog): date partitions
        strictly before the cutoff disappear; newer data and other
        markets are untouched; a second run is a no-op."""
        from marketdb_spark.sources.store import expire_store

        path = str(tmp_path / "store")
        # span two dates: the fixture day plus a day-shifted copy
        shifted = trades_df.withColumn(
            "time", F.col("time") + F.expr("interval 1 day")
        ).withColumn("trade_id", F.col("trade_id") + 1000)
        write_partitioned(trades_df.unionByName(shifted), path)
        dates = sorted(
            r.date for r in read_store(spark, path).select("date").distinct().collect()
        )
        assert len(dates) >= 2, "fixture must span several dates"
        cutoff = str(dates[-1])  # keep only the newest date
        keep_rows = read_store(spark, path).filter(
            F.col("date") >= cutoff
        ).count()
        stats = expire_store(spark, path, cutoff)
        assert stats["partitions_dropped"] >= 1
        assert stats["files_dropped"] >= stats["partitions_dropped"]
        back = read_store(spark, path)
        assert back.count() == keep_rows
        assert sorted(str(r.date) for r in back.select("date").distinct().collect()) == [cutoff]
        # idempotent
        assert expire_store(spark, path, cutoff)["partitions_dropped"] == 0

    def test_batch_json_source_roundtrip(self, spark, trades_df, tmp_path):
        """Batch JSON scan with explicit schema (SURVEY §2B sources [S]) —
        schema'd read, no inference pass, timestamps preserved."""
        path = str(tmp_path / "json")
        trades_df.write.json(path)
        back = spark.read.schema(trades_df.schema).json(path)
        assert back.count() == trades_df.count()
        assert dict(back.dtypes) == dict(trades_df.dtypes)

    def test_compact_store_merges_small_files(self, spark, trades_df, tmp_path):
        """Micro-batch ingest leaves one file per batch per partition; the
        compactor must merge them to ~target-sized files, touch only
        oversplit partitions, and preserve every row."""
        from marketdb_spark.sources.store import compact_store

        path = str(tmp_path / "store")
        # simulate 5 micro-batches → 5 small files per (market, date) dir
        for i in range(5):
            batch = trades_df.withColumn(
                "trade_id", F.col("trade_id") + F.lit(i * 10_000)
            )
            write_partitioned(batch, path, mode="append")
        before = read_store(spark, path)
        n_before = before.count()

        stats = compact_store(spark, path, target_file_bytes=128 * 1024 * 1024)
        assert stats["files_before"] > stats["files_after"]
        assert stats["partitions_rewritten"] >= 1
        after = read_store(spark, path)
        assert after.count() == n_before
        assert sorted(after.columns) == sorted(before.columns)

    def test_idempotent_reingest(self, spark, trades_df, tmp_path):
        """Re-ingesting the same batch is a no-op (FIXTURES.md §7)."""
        path = str(tmp_path / "store")
        idempotent_append(spark, trades_df, path)
        n1 = read_store(spark, path).count()
        idempotent_append(spark, trades_df, path)  # same batch again
        assert read_store(spark, path).count() == n1
        # a genuinely new row still lands
        extra = trades_df.limit(1).withColumn("trade_id", F.lit(999_999))
        idempotent_append(spark, extra, path)
        assert read_store(spark, path).count() == n1 + 1


class TestQueryServer:
    """W1 network façade: the reference's scan service (MarketDbProtocol's
    Open/ReadRows/Close over finagle) re-expressed as TCP/ndjson. Every op
    reads the request's partition directories in place with pyarrow (no
    Spark job); server memory is one request's result, and open cursors
    are capped at MAX_OPEN_SCANS."""

    @pytest.fixture()
    def server(self, spark, trades_df, tmp_path):
        from marketdb_spark.server import MarketDbServer
        from marketdb_spark.sources.store import write_partitioned

        store = str(tmp_path / "trades_store")
        write_partitioned(trades_df, store)
        srv = MarketDbServer(spark, trades_path=store, orders_path=store)
        with srv:
            yield srv

    def test_one_shot_scan(self, server, trades_df):
        from marketdb_spark.server import request

        out = request(server.host, server.port, {
            "op": "trades", "market": "RTS", "security": "RTS-3.13",
            "interval": ["2013-02-01 10:00:00", "2013-02-01 10:05:00"],
        })
        rows, tail = out[:-1], out[-1]
        assert tail["done"] == len(rows)
        # inclusive bounds (id 5 sits exactly on the end bound),
        # time-ordered, 5000 (10:04:59) interleaved
        assert [r["trade_id"] for r in rows] == [0, 1, 2, 3, 4, 5000, 5]
        assert all(r["security"] == "RTS-3.13" for r in rows)

    def test_count_matches_scan(self, server):
        from marketdb_spark.server import request

        out = request(server.host, server.port, {
            "op": "count", "kind": "trades", "market": "RTS",
            "security": "RTS-3.14",
            "interval": ["2013-02-01 10:00:00", "2013-02-01 19:00:00"],
        })
        assert out == [{"count": 10}]

    def test_cursor_open_next_close(self, server):
        """The reference's scanner lifecycle: open a handle, pull batches,
        exhaustion reported on the final batch, handle invalid after."""
        from marketdb_spark.server import request

        h, p = server.host, server.port
        req = {
            "op": "open", "kind": "trades", "market": "RTS",
            "security": "RTS-3.13",
            "interval": ["2013-02-01 10:00:00", "2013-02-01 19:00:00"],
        }
        (opened,) = request(h, p, req)
        sid = opened["scan_id"]

        batch1 = request(h, p, {"op": "next", "scan_id": sid, "n": 5})
        assert batch1[-1] == {"batch_end": 5, "exhausted": False}
        ids1 = [r["trade_id"] for r in batch1[:-1]]
        assert ids1 == [0, 1, 2, 3, 4]

        batch2 = request(h, p, {"op": "next", "scan_id": sid, "n": 100})
        assert batch2[-1]["exhausted"] is True
        ids2 = [r["trade_id"] for r in batch2[:-1]]
        # batches tile the full time-ordered series with no overlap
        assert ids1 + ids2 == [0, 1, 2, 3, 4, 5000, 5, 5001, 6, 7, 8, 9]

        after = request(h, p, {"op": "next", "scan_id": sid, "n": 1})
        assert after == [{"error": "unknown scan_id"}]

    def test_unknown_op_is_error_not_crash(self, server):
        from marketdb_spark.server import request

        out = request(server.host, server.port, {"op": "frobnicate"})
        assert "error" in out[0]
        # server still serves afterwards
        out2 = request(server.host, server.port, {
            "op": "count", "kind": "trades", "market": "RTS",
            "security": "RTS-3.13",
            "interval": ["2013-02-01 10:00:00", "2013-02-01 19:00:00"],
        })
        assert out2[0]["count"] == 12

    _SCAN_13 = {
        "op": "open", "kind": "trades", "market": "RTS",
        "security": "RTS-3.13",
        "interval": ["2013-02-01 10:00:00", "2013-02-01 19:00:00"],
    }
    _IDS_13 = [0, 1, 2, 3, 4, 5000, 5, 5001, 6, 7, 8, 9]

    def test_next_on_never_opened_scan_is_error(self, server):
        from marketdb_spark.server import request

        out = request(server.host, server.port,
                      {"op": "next", "scan_id": 99999, "n": 5})
        assert out == [{"error": "unknown scan_id"}]

    def test_close_invalidates_handle(self, server):
        from marketdb_spark.server import request

        h, p = server.host, server.port
        (opened,) = request(h, p, self._SCAN_13)
        sid = opened["scan_id"]
        assert request(h, p, {"op": "close", "scan_id": sid}) == [{"closed": True}]
        assert request(h, p, {"op": "next", "scan_id": sid, "n": 1}) \
            == [{"error": "unknown scan_id"}]

    def test_concurrent_cursors_stay_independent(self, server):
        """Two open scanners interleave their `next` pulls without sharing
        position — the reference's scanner registry keyed by handle
        (MarketDbProtocol's per-scanner state)."""
        from marketdb_spark.server import request

        h, p = server.host, server.port
        sid_a = request(h, p, self._SCAN_13)[0]["scan_id"]
        sid_b = request(h, p, self._SCAN_13)[0]["scan_id"]
        assert sid_a != sid_b

        a1 = request(h, p, {"op": "next", "scan_id": sid_a, "n": 3})
        b1 = request(h, p, {"op": "next", "scan_id": sid_b, "n": 7})
        a2 = request(h, p, {"op": "next", "scan_id": sid_a, "n": 100})
        b2 = request(h, p, {"op": "next", "scan_id": sid_b, "n": 100})
        ids = lambda batch: [r["trade_id"] for r in batch[:-1]]
        assert ids(a1) + ids(a2) == self._IDS_13
        assert ids(b1) + ids(b2) == self._IDS_13
        assert a2[-1]["exhausted"] and b2[-1]["exhausted"]

    def test_concurrent_next_same_scan_no_loss_or_dup(self, server):
        """Many threads hammering `next` on ONE scan_id: the per-scan lock
        must serialize iterator access so the union of all batches tiles
        the scan exactly once (regression: unguarded shared iterator could
        split/duplicate rows or race the exhaustion pop)."""
        import threading

        from marketdb_spark.server import request

        h, p = server.host, server.port
        sid = request(h, p, self._SCAN_13)[0]["scan_id"]
        got, errs, lock = [], [], threading.Lock()

        def puller():
            while True:
                out = request(h, p, {"op": "next", "scan_id": sid, "n": 2})
                with lock:
                    if "error" in out[0]:      # post-exhaustion pop: fine
                        return
                    got.extend(r["trade_id"] for r in out[:-1])
                if out[-1].get("exhausted") or out[-1]["batch_end"] == 0:
                    return

        threads = [threading.Thread(target=puller) for _ in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert sorted(got) == sorted(self._IDS_13)
        assert not errs

    def test_fetch_arrow_matches_row_lane(self, server):
        """The Arrow bulk lane (op fetch_arrow: u32-framed per-batch IPC
        streams) must deliver the same rows, same order, as the ndjson
        row lane — typed: trade ids come back as int64, prices as
        decimal, times as microsecond timestamps."""
        import pyarrow as pa

        from marketdb_spark.server import fetch_arrow, request

        req = {
            "kind": "trades", "market": "RTS", "security": "RTS-3.13",
            "interval": ["2013-02-01 10:00:00", "2013-02-01 19:00:00"],
            "batch_rows": 5,  # 12 rows -> 3 frames: framing exercised
        }
        tbl = fetch_arrow(server.host, server.port, req)
        assert tbl.column("trade_id").to_pylist() == self._IDS_13
        assert pa.types.is_int64(tbl.schema.field("trade_id").type)
        assert pa.types.is_decimal(tbl.schema.field("price").type)
        assert pa.types.is_timestamp(tbl.schema.field("time").type)
        rows = request(server.host, server.port, {**req, "op": "trades"})[:-1]
        assert len(rows) == tbl.num_rows
        assert [r["trade_id"] for r in rows] == tbl.column("trade_id").to_pylist()

    def test_fetch_arrow_empty_scan(self, server):
        """An empty scan returns a TYPED zero-row table (the server
        always frames the schema in one zero-row IPC stream), so callers
        handing results to pandas/duckdb keep the column types."""
        import pyarrow as pa

        from marketdb_spark.server import fetch_arrow

        tbl = fetch_arrow(server.host, server.port, {
            "kind": "trades", "market": "RTS", "security": "NO-SUCH",
            "interval": ["2013-02-01 10:00:00", "2013-02-01 19:00:00"],
        })
        assert tbl.num_rows == 0
        assert "trade_id" in tbl.schema.names
        assert pa.types.is_int64(tbl.schema.field("trade_id").type)
        assert pa.types.is_decimal(tbl.schema.field("price").type)

    def test_fetch_arrow_malformed_request_error_in_band(self, server):
        """Malformed bulk-lane requests fail as ONE JSON error line
        before any framing starts — the client raises, the connection
        stays sane for the next request, and the server survives."""
        import json as _json
        import socket as _socket

        from marketdb_spark.server import fetch_arrow

        h, p = server.host, server.port
        # missing required fields → header-stage error, client raises
        with pytest.raises(RuntimeError, match="Error|error|KeyError"):
            fetch_arrow(h, p, {"kind": "trades"})
        # raw non-JSON garbage on the wire → error line, not a crash
        with _socket.create_connection((h, p), timeout=10) as sock:
            sock.sendall(b"this is not json\n")
            line = sock.makefile("rb").readline()
            assert "error" in _json.loads(line)
        # the server still serves real requests afterwards
        tbl = fetch_arrow(h, p, {
            "kind": "trades", "market": "RTS", "security": "RTS-3.13",
            "interval": ["2013-02-01 10:00:00", "2013-02-01 19:00:00"],
        })
        assert tbl.num_rows > 0

    def test_fetch_arrow_mid_stream_disconnect_raises(self, server):
        """A connection dropped mid-frame must surface as ConnectionError
        (truncated stream), never as a silently short table: the client
        treats a short read as corruption, not completion. Server-side,
        the handler thread dies quietly and the server keeps serving."""
        import json as _json
        import socket as _socket

        from marketdb_spark.server import fetch_arrow

        h, p = server.host, server.port
        req = {
            "op": "fetch_arrow", "kind": "trades", "market": "RTS",
            "security": "RTS-3.13", "batch_rows": 5,
            "interval": ["2013-02-01 10:00:00", "2013-02-01 19:00:00"],
        }
        # read the header + the first frame's length prefix, then HANG UP
        # mid-frame; a client-side mirror of this server behavior is the
        # read_exact() short-read guard, exercised via a fake server below
        with _socket.create_connection((h, p), timeout=10) as sock:
            sock.sendall(_json.dumps(req).encode() + b"\n")
            rf = sock.makefile("rb")
            header = _json.loads(rf.readline())
            assert header.get("arrow_frames")
            n = int.from_bytes(rf.read(4), "big")
            assert n > 0
            rf.read(max(n // 2, 1))  # partial frame
            # drop the connection here (context exit closes the socket)
        # the server is still healthy for the next client
        tbl = fetch_arrow(h, p, req)
        assert tbl.num_rows == 12
        # client side: a server that dies mid-frame (short read) raises
        import threading

        srv_sock = _socket.socket()
        srv_sock.bind(("127.0.0.1", 0))
        srv_sock.listen(1)
        fake_port = srv_sock.getsockname()[1]

        def fake_server():
            conn, _ = srv_sock.accept()
            conn.makefile("rb").readline()  # consume the request
            conn.sendall(
                _json.dumps(
                    {"arrow_frames": True, "framing": "u32be"}
                ).encode()
                + b"\n"
            )
            conn.sendall((1000).to_bytes(4, "big") + b"x" * 10)  # short!
            conn.close()

        t = threading.Thread(target=fake_server, daemon=True)
        t.start()
        try:
            with pytest.raises(ConnectionError, match="truncated"):
                fetch_arrow("127.0.0.1", fake_port, req)
        finally:
            srv_sock.close()

    def test_concurrent_clients(self, server):
        """Two cursors pulled from interleaved connections must not leak
        rows between handles (threaded server, per-handle iterators)."""
        import concurrent.futures as cf

        from marketdb_spark.server import request

        h, p = server.host, server.port

        def drain(security):
            (opened,) = request(h, p, {
                "op": "open", "kind": "trades", "market": "RTS",
                "security": security,
                "interval": ["2013-02-01 10:00:00", "2013-02-01 19:00:00"],
            })
            sid, ids = opened["scan_id"], []
            while True:
                batch = request(h, p, {"op": "next", "scan_id": sid, "n": 3})
                ids += [r["trade_id"] for r in batch[:-1]]
                if batch[-1].get("exhausted"):
                    return ids

        with cf.ThreadPoolExecutor(2) as ex:
            f13 = ex.submit(drain, "RTS-3.13")
            f14 = ex.submit(drain, "RTS-3.14")
            ids13, ids14 = f13.result(60), f14.result(60)
        assert ids13 == [0, 1, 2, 3, 4, 5000, 5, 5001, 6, 7, 8, 9]
        assert ids14 == [1000 + i for i in range(10)]

    def test_open_scans_are_capped(self, server):
        """Clients that open scans and drop their sockets cannot grow the
        registry past MAX_OPEN_SCANS: the extra `open`s are refused in
        band, handler threads end with their connections, the server keeps
        serving, and `close` frees a slot."""
        import threading
        import time

        from marketdb_spark.server import MAX_OPEN_SCANS, request

        h, p = server.host, server.port
        threads0 = threading.active_count()
        refused = []
        for _ in range(MAX_OPEN_SCANS + 3):
            (out,) = request(h, p, self._SCAN_13)  # socket closed on return
            if "error" in out:
                refused.append(out)
        assert refused == [{"error": "too many open scans"}] * 3
        assert len(server._scans) == MAX_OPEN_SCANS
        deadline = time.monotonic() + 30
        while threading.active_count() > threads0 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert threading.active_count() <= threads0
        count = {**self._SCAN_13, "op": "count"}
        assert request(h, p, count) == [{"count": 12}]
        sid = next(iter(server._scans))
        assert request(h, p, {"op": "close", "scan_id": sid}) == [{"closed": True}]
        assert "scan_id" in request(h, p, self._SCAN_13)[0]
        assert len(server._scans) == MAX_OPEN_SCANS

    def test_missing_store_is_error_in_band(self, spark, tmp_path):
        from marketdb_spark.server import MarketDbServer, fetch_arrow, request

        missing = str(tmp_path / "no_such_store")
        req = {**self._SCAN_13, "op": "count"}
        with MarketDbServer(spark, missing, missing) as srv:
            (out,) = request(srv.host, srv.port, req)
            assert "FileNotFoundError" in out["error"]
            with pytest.raises(RuntimeError, match="FileNotFoundError"):
                fetch_arrow(srv.host, srv.port, req)
            assert "error" in request(srv.host, srv.port, req)[0]


class TestServerMatchesSpark:
    """Differential test of the server's in-place read against the lazy
    Spark handles (``MarketDb.trades/orders(...).collect()`` is the
    oracle): random (market, security, interval) requests over a store of
    three appends spanning days with a gap (2013-02-03 has no directory),
    orders with NULL and non-NULL ``deal``, and same-time ties."""

    DAYS = (0, 1, 3)  # day offsets from 2013-02-01 that hold data

    @pytest.fixture(scope="class")
    def db(self, spark, tmp_path_factory):
        import datetime as dt
        import random

        from marketdb_spark.client import MarketDb
        from tests.conftest import ORDERS_SCHEMA, TRADES_SCHEMA

        rnd = random.Random(7)
        base = dt.datetime(2013, 2, 1)
        # three appends: day 0 first, then the later days in two halves.
        # Appends into an existing store write their key columns first
        # (the anti-join's order), so the later days' files order their
        # columns unlike the store's first file, whose footer types
        # Spark's read; both halves land in the same directories
        trades, orders = ([], [], []), ([], [], [])
        for i in range(400):
            market, sec = rnd.choice(["RTS", "MICEX"]), rnd.choice(["S1", "S2", "S3"])
            day = rnd.choice(self.DAYS)
            part = 0 if day == 0 else 1 + i % 2
            # coarse minutes make same-time ties across ids common
            t = base + dt.timedelta(days=day, minutes=rnd.randrange(0, 1440, 7))
            price = Decimal(rnd.randrange(1, 10**9)) / 10**8
            trades[part].append((market, sec, i, price, rnd.randint(1, 9), t, i % 5 == 0))
            # deal prices below 1e-6 too: Spark renders those in exponent form
            deal = (i * 3, Decimal(rnd.randrange(1000)) / 10**8) if i % 3 else None
            orders[part].append((market, sec, i, t, 1, 2, -1, price, 5, 4, deal))
        root = tmp_path_factory.mktemp("server_diff")
        db = MarketDb(spark, trades_path=str(root / "trades"), orders_path=str(root / "orders"))
        for t_rows, o_rows in zip(trades, orders):
            db.add_trades(spark.createDataFrame(t_rows, TRADES_SCHEMA))
            db.add_orders(spark.createDataFrame(o_rows, ORDERS_SCHEMA))
        return db

    @pytest.fixture(scope="class")
    def server(self, spark, db):
        from marketdb_spark.server import MarketDbServer

        with MarketDbServer(spark, db.trades_path, db.orders_path) as srv:
            yield srv

    @staticmethod
    def _typed(value, dtype):
        """A served JSON value back in the Python type Spark collects."""
        import datetime as dt

        from pyspark.sql import types as T

        if value is None:
            return None
        if isinstance(dtype, T.StructType):
            return {f.name: TestServerMatchesSpark._typed(value[f.name], f.dataType)
                    for f in dtype.fields}
        parse = {T.TimestampType: dt.datetime.fromisoformat,
                 T.DateType: dt.date.fromisoformat,
                 T.DecimalType: Decimal}.get(type(dtype))
        return parse(value) if parse else value

    def test_every_op_matches_spark(self, spark, db, server):
        import datetime as dt

        import pyarrow as pa
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st
        from pyspark.sql.pandas.types import to_arrow_schema

        from marketdb_spark.server import fetch_arrow, request

        h, p = server.host, server.port
        base = dt.datetime(2013, 2, 1)

        @settings(max_examples=25, deadline=None,
                  suppress_health_check=[HealthCheck.function_scoped_fixture])
        @given(
            kind=st.sampled_from(["trades", "orders"]),
            market=st.sampled_from(["RTS", "MICEX", "NYSE"]),
            security=st.sampled_from(["S1", "S2", "S3", "S9"]),
            # starts from the day before the data to the day after it;
            # lengths from one instant to three days (gap day included)
            start_min=st.integers(-1440, 5 * 1440),
            length_min=st.integers(0, 3 * 1440),
            page=st.integers(1, 40),
        )
        def check(kind, market, security, start_min, length_min, page):
            a = base + dt.timedelta(minutes=start_min)
            b = a + dt.timedelta(minutes=length_min)
            interval = [str(a), str(b)]
            df = getattr(db, kind)(market, security, tuple(interval))
            want = [r.asDict(recursive=True) for r in df.collect()]
            req = {"kind": kind, "market": market, "security": security,
                   "interval": interval}

            assert request(h, p, {**req, "op": "count"}) == [{"count": len(want)}]

            def typed(rows):
                return [{f.name: self._typed(r[f.name], f.dataType) for f in df.schema.fields}
                        for r in rows]

            *rows, done = request(h, p, {**req, "op": kind})
            assert done == {"done": len(want)}
            assert [list(r) for r in rows] == [df.columns] * len(rows)
            assert typed(rows) == want

            sid = request(h, p, {**req, "op": "open"})[0]["scan_id"]
            paged = []
            while True:
                *batch, end = request(h, p, {"op": "next", "scan_id": sid, "n": page})
                paged += batch
                if end["exhausted"]:
                    break
            assert typed(paged) == want

            tbl = fetch_arrow(h, p, {**req, "batch_rows": page})
            spark_schema = to_arrow_schema(df.schema)
            expect = pa.schema([
                f.with_type(pa.timestamp("us")) if pa.types.is_timestamp(f.type) else f
                for f in spark_schema
            ])
            assert tbl.schema.equals(expect), (tbl.schema, expect)
            assert tbl.to_pylist() == want

        check()

    def test_interval_without_directory_is_typed_empty(self, db, server):
        from marketdb_spark.server import fetch_arrow, request

        req = {"kind": "orders", "market": "RTS", "security": "S1",
               "interval": ["2013-02-03 00:00:00", "2013-02-03 23:59:59"]}
        assert request(server.host, server.port, {**req, "op": "count"}) == [{"count": 0}]
        tbl = fetch_arrow(server.host, server.port, req)
        assert tbl.num_rows == 0
        assert tbl.schema.names[-2:] == ["market", "date"]
        assert str(tbl.schema.field("deal").type) == (
            "struct<id: int64, price: decimal128(18, 8)>"
        )


class TestSnapshotTable:
    """Transactional snapshot table (sources/snapshot.py): atomic commits,
    snapshot-isolation reads, time travel, optimistic concurrency, vacuum
    with log checkpointing."""

    def _rows(self, spark, df):
        return sorted(tuple(r) for r in df.collect())

    def test_append_overwrite_time_travel(self, spark, tmp_path):
        from marketdb_spark.sources.snapshot import (
            latest_version,
            read_snapshot,
            write_snapshot,
        )

        t = str(tmp_path / "tbl")
        a = spark.range(0, 5).withColumnRenamed("id", "v")
        b = spark.range(5, 8).withColumnRenamed("id", "v")
        c = spark.range(100, 102).withColumnRenamed("id", "v")
        assert write_snapshot(a, t, mode="append") == 0
        assert write_snapshot(b, t, mode="append") == 1
        assert write_snapshot(c, t, mode="overwrite") == 2
        assert latest_version(t) == 2
        assert self._rows(spark, read_snapshot(spark, t)) == [(100,), (101,)]
        assert self._rows(spark, read_snapshot(spark, t, version=1)) == [
            (i,) for i in range(8)
        ]
        assert self._rows(spark, read_snapshot(spark, t, version=0)) == [
            (i,) for i in range(5)
        ]

    def test_merge_upsert_delete_insert(self, spark, tmp_path):
        """merge_snapshot: one batch updates a matched key, inserts an
        unmatched key, deletes a flagged key, and leaves the rest — then
        time travel still reads the pre-merge base."""
        from marketdb_spark.sources.snapshot import (
            merge_snapshot,
            read_snapshot,
            write_snapshot,
        )

        t = str(tmp_path / "tbl")
        base = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
        )
        assert write_snapshot(base, t) == 0
        src = spark.createDataFrame(
            [
                (2, "B", False),   # update matched key
                (9, "new", False), # insert unmatched key
                (3, None, True),   # delete matched key
            ],
            "k long, v string, is_delete boolean",
        )
        assert merge_snapshot(spark, t, src, ["k"], "is_delete") == 1
        assert self._rows(spark, read_snapshot(spark, t)) == [
            (1, "a"), (2, "B"), (9, "new")
        ]
        assert self._rows(spark, read_snapshot(spark, t, 0)) == [
            (1, "a"), (2, "b"), (3, "c")
        ]

    def test_merge_rejects_duplicate_source_keys(self, spark, tmp_path):
        """One row per key per merge batch (Delta 'multiple source rows
        matched'): duplicates would silently break upsert-by-key."""
        from marketdb_spark.sources.snapshot import (
            merge_snapshot,
            write_snapshot,
        )

        t = str(tmp_path / "tbl")
        write_snapshot(
            spark.createDataFrame([(1, "a")], "k long, v string"), t
        )
        src = spark.createDataFrame(
            [(1, "B", False), (1, None, True)], "k long, v string, is_delete boolean"
        )
        with pytest.raises(ValueError, match="multiple rows"):
            merge_snapshot(spark, t, src, ["k"], "is_delete")

    def test_conditional_commit_conflicts_on_stale_base(self, spark, tmp_path):
        """write_snapshot(expected_version=...) must raise CommitConflict
        when the table advanced past the read version — the lost-update
        guard merge_snapshot relies on — instead of retrying onto a later
        version with a stale result."""
        from marketdb_spark.sources.snapshot import (
            CommitConflict,
            write_snapshot,
        )

        t = str(tmp_path / "tbl")
        df = spark.createDataFrame([(1, "a")], "k long, v string")
        assert write_snapshot(df, t) == 0
        assert write_snapshot(df, t) == 1  # another writer advanced the table
        with pytest.raises(CommitConflict, match="advanced past"):
            write_snapshot(df, t, mode="overwrite", expected_version=0)
        # and the conditional commit succeeds when the base is current
        assert write_snapshot(df, t, mode="overwrite", expected_version=1) == 2

    def test_concurrent_commit_exactly_one_version_each(self, spark, tmp_path):
        """Two writers race: both data writes land, the exclusive log
        create serializes them into distinct versions — no lost update,
        no shared version number."""
        import threading

        from marketdb_spark.sources.snapshot import (
            read_snapshot,
            write_snapshot,
        )

        t = str(tmp_path / "tbl")
        write_snapshot(spark.range(0, 1).withColumnRenamed("id", "v"), t)
        results = []

        def commit(lo, hi):
            df = spark.range(lo, hi).withColumnRenamed("id", "v")
            results.append(write_snapshot(df, t, mode="append"))

        threads = [
            threading.Thread(target=commit, args=(10, 12)),
            threading.Thread(target=commit, args=(20, 22)),
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert sorted(results) == [1, 2]
        got = self._rows(spark, read_snapshot(spark, t))
        assert got == [(0,), (10,), (11,), (20,), (21,)]

    def test_crashed_writer_invisible(self, spark, tmp_path):
        """Data files without a commit log entry must not be readable —
        simulates a writer that died between data write and commit."""
        import os

        from marketdb_spark.sources.snapshot import (
            read_snapshot,
            write_snapshot,
        )

        t = str(tmp_path / "tbl")
        write_snapshot(spark.range(0, 3).withColumnRenamed("id", "v"), t)
        # orphan data dir, no log entry
        spark.range(50, 60).withColumnRenamed("id", "v").write.parquet(
            os.path.join(t, "data", "orphan")
        )
        assert self._rows(spark, read_snapshot(spark, t)) == [
            (0,), (1,), (2,)
        ]

    def test_vacuum_checkpoints_log(self, spark, tmp_path):
        """vacuum(keep=2) deletes files only reachable from older
        versions and rewrites the oldest kept entry as a self-contained
        manifest: remaining versions stay readable, older ones are gone."""
        import pytest as _pytest

        from marketdb_spark.sources.snapshot import (
            read_snapshot,
            vacuum,
            write_snapshot,
        )

        t = str(tmp_path / "tbl")
        write_snapshot(spark.range(0, 3).withColumnRenamed("id", "v"), t)
        write_snapshot(
            spark.range(10, 12).withColumnRenamed("id", "v"), t,
            mode="overwrite",
        )
        write_snapshot(spark.range(12, 14).withColumnRenamed("id", "v"), t)
        # default retention keeps seconds-old unreferenced files — an
        # in-flight writer's staged data must survive a concurrent vacuum
        assert vacuum(t, keep_versions=2) == []
        deleted = vacuum(t, keep_versions=2, min_file_age_seconds=0)
        assert deleted  # version-0 files were only reachable from v0
        assert self._rows(spark, read_snapshot(spark, t)) == [
            (10,), (11,), (12,), (13,)
        ]
        assert self._rows(spark, read_snapshot(spark, t, version=1)) == [
            (10,), (11,)
        ]
        with _pytest.raises(ValueError):
            read_snapshot(spark, t, version=0)

    def test_batch_commit_exactly_once(self, spark, tmp_path):
        """write_snapshot_batch dedups on batch_id: a replayed micro-batch
        (same id — Structured Streaming's at-least-once redelivery) commits
        nothing; a new batch id commits normally."""
        from marketdb_spark.sources.snapshot import (
            read_snapshot,
            write_snapshot_batch,
        )

        t = str(tmp_path / "tbl")
        df = spark.range(0, 3).withColumnRenamed("id", "v")
        assert write_snapshot_batch(df, t, batch_id=0) == 0
        assert write_snapshot_batch(df, t, batch_id=0) is None  # replay
        assert write_snapshot_batch(df, t, batch_id=1) == 1
        assert read_snapshot(spark, t).count() == 6  # 3 + 3, not 9

    def test_streaming_ingest_into_snapshot_table(self, spark, tmp_path):
        """End to end: file stream → foreachBatch snapshot_sink; a second
        run over the SAME checkpoint with one new source file appends only
        the new rows (exactly-once across restarts)."""
        import json as _json

        from marketdb_spark.sources.snapshot import (
            read_snapshot,
            snapshot_sink,
        )

        src = tmp_path / "src"
        src.mkdir()
        t, ckpt = str(tmp_path / "tbl"), str(tmp_path / "ckpt")

        def run():
            stream = (
                spark.readStream.schema("v long")
                .option("maxFilesPerTrigger", 1)
                .json(str(src))
            )
            q = (
                stream.writeStream.foreachBatch(snapshot_sink(t))
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        (src / "a.json").write_text(
            "\n".join(_json.dumps({"v": i}) for i in range(4))
        )
        run()
        assert read_snapshot(spark, t).count() == 4
        (src / "b.json").write_text(
            "\n".join(_json.dumps({"v": i}) for i in range(100, 102))
        )
        run()  # restart from checkpoint: batch 0 must not re-commit
        got = sorted(r.v for r in read_snapshot(spark, t).collect())
        assert got == [0, 1, 2, 3, 100, 101]

    def test_incremental_read_changes(self, spark, tmp_path):
        """read_changes returns exactly the rows appended in the version
        range; an overwrite inside the range is an explicit error."""
        import pytest as _pytest

        from marketdb_spark.sources.snapshot import (
            read_changes,
            write_snapshot,
        )

        t = str(tmp_path / "tbl")
        write_snapshot(spark.range(0, 3).withColumnRenamed("id", "v"), t)
        write_snapshot(spark.range(10, 12).withColumnRenamed("id", "v"), t)
        write_snapshot(spark.range(20, 21).withColumnRenamed("id", "v"), t)
        got = sorted(r.v for r in read_changes(spark, t, from_version=0).collect())
        assert got == [10, 11, 20]
        got = sorted(
            r.v for r in read_changes(spark, t, 0, to_version=1).collect()
        )
        assert got == [10, 11]
        assert read_changes(spark, t, from_version=2).count() == 0
        write_snapshot(
            spark.range(99, 100).withColumnRenamed("id", "v"), t,
            mode="overwrite",
        )
        with _pytest.raises(ValueError, match="overwrite"):
            read_changes(spark, t, from_version=0)


class TestZipDataSource:
    """Spark 4 Python DataSource for CSV-in-ZIP (sources/zipsource.py):
    archive members stream in executors — no extraction step."""

    def _make_archives(self, tmp_path, n=2):
        import zipfile

        paths = []
        for i in range(n):
            zp = tmp_path / f"FT13020{i + 1}.zip"
            with zipfile.ZipFile(zp, "w") as zf:
                zf.writestr(f"day/FT13020{i + 1}ft.csv", RTS_LINES)
                zf.writestr("readme.txt", "junk")
            paths.append(zp)
        return paths

    def test_matches_extract_based_reader(self, spark, tmp_path):
        """Distributed ZIP source must produce the same VALID trades (and
        the same quarantine size) as extract-then-csv-scan on the same
        archive."""
        from marketdb_spark.sources.rts_csv import parse_trades, read_rts_zip
        from marketdb_spark.sources.zipsource import read_rts_zip_distributed

        [zp] = self._make_archives(tmp_path, n=1)
        raw_ref = read_rts_zip(spark, str(zp), str(tmp_path / "work"))
        raw_new = read_rts_zip_distributed(spark, str(zp))
        # RTS_LINES contains a BLANK line: the csv reader skips it
        # entirely, and the zip path must agree row-for-row — an all-NULL
        # row with NULL _corrupt would be neither valid nor quarantined,
        # silently shifting quarantine accounting between the two paths.
        assert raw_new.count() == raw_ref.count()
        v_ref, q_ref = parse_trades(raw_ref)
        v_new, q_new = parse_trades(raw_new)
        ref = sorted(map(tuple, v_ref.collect()))
        new = sorted(map(tuple, v_new.collect()))
        assert new == ref and len(ref) == 3
        assert q_new.count() == q_ref.count() == 3

    def test_glob_many_archives_one_partition_per_member(self, spark, tmp_path):
        from marketdb_spark.sources.zipsource import (
            read_rts_zip_distributed,
            register_zip_source,
        )

        self._make_archives(tmp_path, n=3)
        df = read_rts_zip_distributed(spark, str(tmp_path / "*.zip"))
        # 3 archives x 1 ft.csv member each -> 3 partitions, 3x the rows
        register_zip_source(spark)
        raw = (
            spark.read.format("rtszip")
            .option("suffix", "ft.csv")
            .load(str(tmp_path / "*.zip"))
        )
        assert raw.rdd.getNumPartitions() == 3
        # blank lines are dropped (csv-reader parity), so count the
        # non-empty lines only
        n_lines = sum(1 for ln in RTS_LINES.splitlines() if ln)
        assert df.count() == 3 * n_lines

    def test_missing_suffix_raises(self, spark, tmp_path):
        import zipfile

        from marketdb_spark.sources.zipsource import read_rts_zip_distributed

        zp = tmp_path / "none.zip"
        with zipfile.ZipFile(zp, "w") as zf:
            zf.writestr("readme.txt", "junk")
        with pytest.raises(Exception, match="ft.csv"):
            read_rts_zip_distributed(spark, str(zp)).collect()


class TestDeltaLog:
    """Jar-free Delta Lake log reader (sources/deltalog.py). The read
    path is tested against HAND-CRAFTED protocol JSON (spec fidelity —
    not just a round-trip of our own writer), plus the writer
    round-trip and a parquet checkpoint."""

    _SCHEMA = (
        '{"type":"struct","fields":['
        '{"name":"k","type":"long","nullable":true,"metadata":{}},'
        '{"name":"v","type":"string","nullable":true,"metadata":{}}]}'
    )

    def _mk_file(self, table, name, rows):
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(
            pa.table(
                {
                    "k": pa.array([r[0] for r in rows], pa.int64()),
                    "v": pa.array([r[1] for r in rows], pa.string()),
                }
            ),
            os.path.join(table, name),
        )

    def _commit(self, table, version, actions):
        import json as _json

        log = os.path.join(table, "_delta_log")
        os.makedirs(log, exist_ok=True)
        with open(os.path.join(log, f"{version:020d}.json"), "w") as f:
            for a in actions:
                f.write(_json.dumps(a) + "\n")

    def _meta(self, partition_cols=()):
        import json as _json

        schema = self._SCHEMA
        if partition_cols:
            schema = schema.replace(
                "]}",
                ',{"name":"p","type":"string","nullable":true,'
                '"metadata":{}}]}',
            )
        return {
            "metaData": {
                "id": "t",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema,
                "partitionColumns": list(partition_cols),
                "configuration": {},
            }
        }

    def test_handcrafted_log_add_remove_time_travel(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import delta_versions, read_delta

        t = str(tmp_path / "tbl")
        os.makedirs(t)
        self._mk_file(t, "f1.parquet", [(1, "a"), (2, "b")])
        self._mk_file(t, "f2.parquet", [(3, "c")])
        add = lambda p: {"add": {"path": p, "partitionValues": {},
                                 "size": 1, "dataChange": True}}
        self._commit(t, 0, [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            self._meta(), add("f1.parquet"),
        ])
        self._commit(t, 1, [add("f2.parquet")])
        self._commit(t, 2, [
            {"remove": {"path": "f1.parquet", "dataChange": True}},
        ])
        assert delta_versions(t) == [0, 1, 2]
        rows = lambda df: sorted(tuple(r) for r in df.collect())
        assert rows(read_delta(spark, t, 0)) == [(1, "a"), (2, "b")]
        assert rows(read_delta(spark, t, 1)) == [(1, "a"), (2, "b"), (3, "c")]
        assert rows(read_delta(spark, t)) == [(3, "c")]

    def test_partition_values_are_authoritative(self, spark, tmp_path):
        """Partition columns come from add.partitionValues, not from any
        directory layout — data files do NOT contain the column."""
        from marketdb_spark.sources.deltalog import read_delta

        t = str(tmp_path / "tbl")
        os.makedirs(t)
        self._mk_file(t, "f1.parquet", [(1, "a")])
        self._mk_file(t, "f2.parquet", [(2, "b")])
        self._commit(t, 0, [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            self._meta(partition_cols=["p"]),
            {"add": {"path": "f1.parquet", "partitionValues": {"p": "x"},
                     "size": 1, "dataChange": True}},
            {"add": {"path": "f2.parquet", "partitionValues": {"p": "y"},
                     "size": 1, "dataChange": True}},
        ])
        got = sorted(tuple(r) for r in read_delta(spark, t).collect())
        assert got == [(1, "a", "x"), (2, "b", "y")]

    def test_checkpoint_replay(self, spark, tmp_path):
        """A parquet checkpoint replaces the JSON commits at or before
        its version; later JSON commits apply on top."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from marketdb_spark.sources.deltalog import read_delta

        t = str(tmp_path / "tbl")
        os.makedirs(os.path.join(t, "_delta_log"))
        self._mk_file(t, "f1.parquet", [(1, "a")])
        self._mk_file(t, "f2.parquet", [(2, "b")])
        meta = self._meta()["metaData"]
        # explicit schema: partitionValues is map<string,string> in real
        # Delta checkpoints (an empty inferred struct can't hit parquet)
        ck_schema = pa.schema([
            ("add", pa.struct([
                ("path", pa.string()),
                ("partitionValues", pa.map_(pa.string(), pa.string())),
            ])),
            ("metaData", pa.struct([
                ("id", pa.string()),
                ("schemaString", pa.string()),
                ("partitionColumns", pa.list_(pa.string())),
            ])),
            ("protocol", pa.struct([("minReaderVersion", pa.int32())])),
        ])
        ck = pa.Table.from_pylist([
            {"add": {"path": "f1.parquet", "partitionValues": []},
             "metaData": None, "protocol": None},
            {"add": None,
             "metaData": {"id": meta["id"],
                          "schemaString": meta["schemaString"],
                          "partitionColumns": meta["partitionColumns"]},
             "protocol": None},
            {"add": None, "metaData": None,
             "protocol": {"minReaderVersion": 1}},
        ], schema=ck_schema)
        pq.write_table(
            ck, os.path.join(t, "_delta_log", f"{1:020d}.checkpoint.parquet")
        )
        self._commit(t, 2, [
            {"add": {"path": "f2.parquet", "partitionValues": {},
                     "size": 1, "dataChange": True}},
        ])
        got = sorted(tuple(r) for r in read_delta(spark, t, 2).collect())
        assert got == [(1, "a"), (2, "b")]

    def test_unsupported_reader_version_raises(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import read_delta

        t = str(tmp_path / "tbl")
        os.makedirs(t)
        self._mk_file(t, "f1.parquet", [(1, "a")])
        self._commit(t, 0, [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7}},
            self._meta(),
            {"add": {"path": "f1.parquet", "partitionValues": {},
                     "size": 1, "dataChange": True}},
        ])
        with pytest.raises(ValueError, match="minReaderVersion"):
            read_delta(spark, t)

    def test_writer_roundtrip_time_travel(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import read_delta, write_delta

        t = str(tmp_path / "tbl")
        a = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        b = spark.createDataFrame([(3, "c")], "k long, v string")
        c = spark.createDataFrame([(9, "z")], "k long, v string")
        assert write_delta(a, t) == 0
        assert write_delta(b, t) == 1
        assert write_delta(c, t, mode="overwrite") == 2
        rows = lambda df: sorted(tuple(r) for r in df.collect())
        assert rows(read_delta(spark, t)) == [(9, "z")]
        assert rows(read_delta(spark, t, 1)) == [(1, "a"), (2, "b"), (3, "c")]
        assert rows(read_delta(spark, t, 0)) == [(1, "a"), (2, "b")]


class TestDeltaLogEdges:
    """Protocol edge cases the first cut silently mishandled: encoded
    paths, checkpoint-only tables, truncated logs, version validation,
    multi-part checkpoints, writer races and schema guards."""

    _SCHEMA = TestDeltaLog._SCHEMA
    _mk_file = TestDeltaLog._mk_file
    _commit = TestDeltaLog._commit
    _meta = TestDeltaLog._meta

    def test_encoded_paths_decoded(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import read_delta

        t = str(tmp_path / "tbl")
        os.makedirs(t)
        self._mk_file(t, "part a.parquet", [(1, "a")])
        self._commit(t, 0, [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            self._meta(),
            {"add": {"path": "part%20a.parquet", "partitionValues": {},
                     "size": 1, "dataChange": True}},
        ])
        assert [tuple(r) for r in read_delta(spark, t).collect()] == [(1, "a")]

    def test_absolute_path_rejected(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import read_delta

        t = str(tmp_path / "tbl")
        os.makedirs(t)
        self._commit(t, 0, [
            self._meta(),
            {"add": {"path": "/etc/passwd", "partitionValues": {},
                     "size": 1, "dataChange": True}},
        ])
        with pytest.raises(ValueError, match="absolute"):
            read_delta(spark, t)

    def test_checkpoint_only_table_reads(self, spark, tmp_path):
        """JSON commits expired under log retention; the checkpoint alone
        fully describes the snapshot."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from marketdb_spark.sources.deltalog import read_delta

        t = str(tmp_path / "tbl")
        os.makedirs(os.path.join(t, "_delta_log"))
        self._mk_file(t, "f1.parquet", [(7, "x")])
        meta = self._meta()["metaData"]
        ck_schema = pa.schema([
            ("add", pa.struct([
                ("path", pa.string()),
                ("partitionValues", pa.map_(pa.string(), pa.string())),
            ])),
            ("metaData", pa.struct([
                ("id", pa.string()), ("schemaString", pa.string()),
                ("partitionColumns", pa.list_(pa.string())),
            ])),
        ])
        ck = pa.Table.from_pylist([
            {"add": {"path": "f1.parquet", "partitionValues": []},
             "metaData": None},
            {"add": None,
             "metaData": {"id": "t", "schemaString": meta["schemaString"],
                          "partitionColumns": []}},
        ], schema=ck_schema)
        pq.write_table(
            ck, os.path.join(t, "_delta_log", f"{3:020d}.checkpoint.parquet")
        )
        assert [tuple(r) for r in read_delta(spark, t).collect()] == [(7, "x")]

    def test_append_to_checkpoint_only_table_commits_above_checkpoint(
        self, spark, tmp_path
    ):
        """ADVICE r5 (medium): on a checkpoint-only table (JSON commits
        expired under retention) the writer must commit at
        checkpoint_version + 1 — a version derived from JSON entries
        alone lands at 0, at-or-below the checkpoint, and replay
        silently drops the committed rows. The schema guard must also
        run against the checkpoint's metaData."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from marketdb_spark.sources.deltalog import read_delta, write_delta

        t = str(tmp_path / "tbl")
        os.makedirs(os.path.join(t, "_delta_log"))
        self._mk_file(t, "f1.parquet", [(7, "x")])
        meta = self._meta()["metaData"]
        ck_schema = pa.schema([
            ("add", pa.struct([
                ("path", pa.string()),
                ("partitionValues", pa.map_(pa.string(), pa.string())),
            ])),
            ("metaData", pa.struct([
                ("id", pa.string()), ("schemaString", pa.string()),
                ("partitionColumns", pa.list_(pa.string())),
            ])),
        ])
        ck = pa.Table.from_pylist([
            {"add": {"path": "f1.parquet", "partitionValues": []},
             "metaData": None},
            {"add": None,
             "metaData": {"id": "t", "schemaString": meta["schemaString"],
                          "partitionColumns": []}},
        ], schema=ck_schema)
        pq.write_table(
            ck, os.path.join(t, "_delta_log", f"{3:020d}.checkpoint.parquet")
        )
        # schema guard fires even with zero JSON commits
        with pytest.raises(ValueError, match="schema mismatch"):
            write_delta(spark.createDataFrame([(1.5,)], "x double"), t)
        df = spark.createDataFrame([(8, "y")], "k long, v string")
        assert write_delta(df, t) == 4  # above the checkpoint, not 0
        got = sorted(tuple(r) for r in read_delta(spark, t).collect())
        assert got == [(7, "x"), (8, "y")]  # append visible after replay

    def test_out_of_range_and_truncated_versions_raise(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import read_delta, write_delta

        t = str(tmp_path / "tbl")
        df = spark.createDataFrame([(1, "a")], "k long, v string")
        write_delta(df, t)
        with pytest.raises(ValueError, match="not in"):
            read_delta(spark, t, version=5)
        # truncated log: commit 0 deleted, no checkpoint → unreadable
        os.remove(os.path.join(t, "_delta_log", f"{0:020d}.json"))
        with pytest.raises(ValueError, match="reconstruct|no Delta log"):
            read_delta(spark, t)

    def test_incomplete_multipart_ignored_v2_rejected(self, spark, tmp_path):
        """An INCOMPLETE multi-part checkpoint set (crashed writer —
        part 1 of 2 only) is ignored per the protocol: the JSON log
        still covers the range, so the table reads fine. v2/UUID
        checkpoint layouts stay a hard error."""
        from marketdb_spark.sources.deltalog import read_delta, write_delta

        t = str(tmp_path / "tbl")
        write_delta(
            spark.createDataFrame([(1, "a")], "k long, v string"), t
        )
        open(
            os.path.join(
                t, "_delta_log",
                f"{0:020d}.checkpoint.0000000001.0000000002.parquet",
            ),
            "w",
        ).close()
        assert [tuple(r) for r in read_delta(spark, t).collect()] == [(1, "a")]
        open(
            os.path.join(
                t, "_delta_log",
                f"{0:020d}.checkpoint.80a083e8-7026-4e79-81be-64bd76c43a11.json",
            ),
            "w",
        ).close()
        with pytest.raises(ValueError, match="v2"):
            read_delta(spark, t)

    def test_multipart_checkpoint_reads(self, spark, tmp_path):
        """A COMPLETE multi-part classic checkpoint (what stock
        delta-spark writes for large tables) replays correctly: the
        single-part checkpoint our writer emits is split row-wise into
        two ``n.checkpoint.o.p.parquet`` parts, the one-part file and
        every JSON commit at-or-before it are deleted (log retention),
        and the table must still read in full — including the txn
        high-water mark and partitionValues riding in the parts."""
        import pyarrow.parquet as pq

        from marketdb_spark.sources.deltalog import (
            clean_log,
            last_txn_version,
            read_delta,
            write_checkpoint,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        df = spark.createDataFrame(
            [(1, "a", "x"), (2, "b", "y")], "k long, v string, p string"
        )
        write_delta(df, t, partition_by=["p"])
        write_delta(
            spark.createDataFrame(
                [(3, "c", "x")], "k long, v string, p string"
            ),
            t,
            txn_app="loader",
            txn_version=7,
        )
        assert write_checkpoint(t) == 1
        clean_log(t)
        one = os.path.join(t, "_delta_log", f"{1:020d}.checkpoint.parquet")
        tbl = pq.read_table(one)
        n = tbl.num_rows
        assert n >= 4  # protocol, metaData, ≥2 adds, txn
        for i, part in enumerate((tbl.slice(0, 2), tbl.slice(2)), start=1):
            pq.write_table(
                part,
                os.path.join(
                    t,
                    "_delta_log",
                    f"{1:020d}.checkpoint.{i:010d}.{2:010d}.parquet",
                ),
            )
        os.remove(one)
        got = sorted(tuple(r) for r in read_delta(spark, t).collect())
        assert got == [(1, "a", "x"), (2, "b", "y"), (3, "c", "x")]
        assert last_txn_version(t, "loader") == 7
        # appends land ABOVE the multi-part checkpoint version
        assert (
            write_delta(
                spark.createDataFrame(
                    [(4, "d", "y")], "k long, v string, p string"
                ),
                t,
            )
            == 2
        )
        assert read_delta(spark, t).count() == 4

    def test_replace_where_partition_overwrite(self, spark, tmp_path):
        """replaceWhere (partition-predicate form): the overwrite removes
        ONLY matching partitions' files, the staged data must fall inside
        the predicate, other partitions' files survive byte-identical,
        and pre-overwrite versions still time-travel."""
        from marketdb_spark.sources.deltalog import (
            delta_live_files,
            read_delta,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        schema = "k long, v string, p string"
        write_delta(
            spark.createDataFrame(
                [(1, "a", "x"), (2, "b", "y"), (3, "c", "x")], schema
            ),
            t,
            partition_by=["p"],
        )
        survivors = [
            f for f in delta_live_files(t) if f.startswith("p=y")
        ]
        # backfill partition x only
        write_delta(
            spark.createDataFrame([(9, "z", "x"), (8, "w", "x")], schema),
            t,
            mode="overwrite",
            replace_where={"p": ["x"]},
        )
        got = sorted(tuple(r) for r in read_delta(spark, t).collect())
        assert got == [(2, "b", "y"), (8, "w", "x"), (9, "z", "x")]
        # partition y's files were never touched
        assert [
            f for f in delta_live_files(t) if f.startswith("p=y")
        ] == survivors
        # time travel to v0 still shows the original x rows
        v0 = sorted(tuple(r) for r in read_delta(spark, t, version=0).collect())
        assert v0 == [(1, "a", "x"), (2, "b", "y"), (3, "c", "x")]

    def test_replace_where_guards(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import (
            delta_live_files,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        schema = "k long, v string, p string"
        write_delta(
            spark.createDataFrame([(1, "a", "x"), (2, "b", "y")], schema),
            t,
            partition_by=["p"],
        )
        n_files = len(delta_live_files(t))
        # data outside the predicate: raises, nothing committed, staged
        # files unstaged (live set unchanged)
        with pytest.raises(ValueError, match="replace_where violation"):
            write_delta(
                spark.createDataFrame([(9, "z", "y")], schema),
                t,
                mode="overwrite",
                replace_where={"p": ["x"]},
            )
        assert len(delta_live_files(t)) == n_files
        with pytest.raises(ValueError, match="requires mode"):
            write_delta(
                spark.createDataFrame([(9, "z", "x")], schema),
                t,
                replace_where={"p": ["x"]},
            )
        with pytest.raises(ValueError, match="not partition columns"):
            write_delta(
                spark.createDataFrame([(9, "z", "x")], schema),
                t,
                mode="overwrite",
                replace_where={"v": ["z"]},
            )
        # schema change under replace_where: refused
        with pytest.raises(ValueError, match="cannot change the schema"):
            write_delta(
                spark.createDataFrame(
                    [(9, "z", "zz", "x")], "k long, v string, w string, p string"
                ),
                t,
                mode="overwrite",
                replace_where={"p": ["x"]},
            )

    def test_convert_to_delta_in_place(self, spark, tmp_path):
        """CONVERT TO DELTA over an existing Hive-partitioned parquet
        directory: no data movement (same files become the v0 adds),
        read_delta equals the original read, the converted table accepts
        appends/optimize like any other, and converting twice raises."""
        from marketdb_spark.sources.deltalog import (
            convert_to_delta,
            delta_live_files,
            read_delta,
            write_delta,
        )

        t = str(tmp_path / "plain")
        df = spark.createDataFrame(
            [(1, "a", "x"), (2, "b", "y"), (3, "c", "x")],
            "k long, v string, p string",
        )
        df.write.partitionBy("p").parquet(t)
        before = sorted(
            tuple(r) for r in spark.read.parquet(t).collect()
        )
        assert convert_to_delta(spark, t, partition_by=["p"]) == 0
        got = sorted(tuple(r) for r in read_delta(spark, t).collect())
        assert got == before
        # the adds are the pre-existing files, not rewrites
        assert all("part-" in f for f in delta_live_files(t))
        with pytest.raises(ValueError, match="already a Delta table"):
            convert_to_delta(spark, t, partition_by=["p"])
        # table life continues: append + read back
        write_delta(
            spark.createDataFrame([(4, "d", "y")], "k long, v string, p string"),
            t,
        )
        assert read_delta(spark, t).count() == 4

    def test_delta_history_operations(self, spark, tmp_path):
        """DESCRIBE HISTORY analog: every writer commit records its
        operation via commitInfo (WRITE/OVERWRITE/REPLACE WHERE/OPTIMIZE/
        CONVERT), newest first with action counts; foreign commits
        without commitInfo still report counts with operation None."""
        from marketdb_spark.sources.deltalog import (
            delta_history,
            optimize_delta,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        schema = "k long, v string, p string"
        write_delta(
            spark.createDataFrame([(1, "a", "x"), (2, "b", "y")], schema),
            t,
            partition_by=["p"],
        )
        write_delta(spark.createDataFrame([(3, "c", "x")], schema), t)
        assert optimize_delta(spark, t) is not None
        write_delta(
            spark.createDataFrame([(9, "z", "x")], schema),
            t,
            mode="overwrite",
            replace_where={"p": ["x"]},
        )
        h = delta_history(t)
        assert [r["version"] for r in h] == [3, 2, 1, 0]
        assert [r["operation"] for r in h] == [
            "REPLACE WHERE", "OPTIMIZE", "WRITE", "WRITE",
        ]
        assert h[1]["data_change"] is False  # compaction rearranges only
        assert h[0]["n_removes"] >= 1 and h[0]["n_adds"] >= 1
        assert all(isinstance(r["timestamp"], int) for r in h)
        # a foreign commit without commitInfo: counts only
        import json as _json

        with open(
            os.path.join(t, "_delta_log", f"{4:020d}.json"), "w"
        ) as f:
            f.write(_json.dumps({"add": {"path": "x.parquet",
                                         "partitionValues": {"p": "x"},
                                         "dataChange": True}}) + "\n")
        h = delta_history(t)
        assert h[0]["operation"] is None and h[0]["n_adds"] == 1

    def test_time_travel_by_timestamp(self, spark, tmp_path):
        """timestampAsOf: reads resolve to the greatest version committed
        at-or-before the instant; before-history raises, after-latest
        reads latest; clock regressions are made monotone."""
        import time

        from marketdb_spark.sources.deltalog import (
            delta_history,
            delta_version_at,
            read_delta,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        schema = "k long, v string"
        write_delta(spark.createDataFrame([(1, "a")], schema), t)
        time.sleep(0.05)
        write_delta(spark.createDataFrame([(2, "b")], schema), t)
        time.sleep(0.05)
        write_delta(spark.createDataFrame([(3, "c")], schema), t)
        h = {r["version"]: r["timestamp"] for r in delta_history(t)}
        assert delta_version_at(t, h[0]) == 0
        assert delta_version_at(t, h[1] - 1) == 0
        assert delta_version_at(t, h[2] + 10_000) == 2
        got = sorted(
            tuple(r)
            for r in read_delta(spark, t, timestamp_ms=h[1]).collect()
        )
        assert got == [(1, "a"), (2, "b")]
        with pytest.raises(ValueError, match="predates"):
            delta_version_at(t, h[0] - 10_000)
        with pytest.raises(ValueError, match="not both"):
            read_delta(spark, t, version=1, timestamp_ms=h[1])
        # a foreign commit whose clock ran backwards: monotone repair
        import json as _json

        p3 = os.path.join(t, "_delta_log", f"{3:020d}.json")
        with open(p3, "w") as f:
            f.write(
                _json.dumps(
                    {"commitInfo": {"timestamp": h[0] - 999, "operation": "X"}}
                )
                + "\n"
            )
        assert delta_version_at(t, h[2]) == 3  # v3 inherits v2's stamp

    def test_convert_records_convert_operation(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import (
            convert_to_delta,
            delta_history,
        )

        t = str(tmp_path / "plain")
        spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(t)
        convert_to_delta(spark, t)
        [row] = delta_history(t)
        assert row["operation"] == "CONVERT" and row["version"] == 0

    def test_convert_to_delta_unpartitioned_and_guards(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import (
            convert_to_delta,
            read_delta,
        )

        t = str(tmp_path / "plain")
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")\
            .write.parquet(t)
        convert_to_delta(spark, t)
        assert read_delta(spark, t).count() == 2
        # declared partitioning that the layout doesn't carry: refused
        t2 = str(tmp_path / "plain2")
        spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(t2)
        with pytest.raises(ValueError, match="not present|does not carry"):
            convert_to_delta(spark, t2, partition_by=["p"])

    def test_multipart_checkpoint_write_roundtrip(self, spark, tmp_path):
        """write_checkpoint above part_size emits a complete classic
        multi-part set (``n.checkpoint.o.p.parquet`` + ``parts`` in the
        pointer) that the reader replays — including across clean_log
        retention — and a crash-sim partial set of a NEWER attempt is
        ignored in favor of the complete older checkpoint."""
        import pyarrow.parquet as pq

        from marketdb_spark.sources.deltalog import (
            _checkpoints,
            clean_log,
            last_txn_version,
            read_delta,
            write_checkpoint,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        df = spark.createDataFrame(
            [(1, "a", "x"), (2, "b", "y"), (3, "c", "x")],
            "k long, v string, p string",
        )
        write_delta(df, t, partition_by=["p"])
        write_delta(
            spark.createDataFrame(
                [(4, "d", "y")], "k long, v string, p string"
            ),
            t,
            txn_app="loader",
            txn_version=9,
        )
        # rows = protocol + metaData + ≥4 adds + txn ≥ 7 → 4 parts at 2
        assert write_checkpoint(t, part_size=2) == 1
        parts = _checkpoints(t)[1]
        assert len(parts) >= 3
        assert all(".checkpoint.00000000" in p for p in parts)
        with open(os.path.join(t, "_delta_log", "_last_checkpoint")) as f:
            pointer = json.load(f)
        assert pointer["parts"] == len(parts)
        assert pointer["size"] == sum(
            pq.read_table(p).num_rows for p in parts
        )
        clean_log(t)  # JSON ≤ 1 gone: the multi-part set must carry all
        got = sorted(tuple(r) for r in read_delta(spark, t).collect())
        assert got == [
            (1, "a", "x"), (2, "b", "y"), (3, "c", "x"), (4, "d", "y"),
        ]
        assert last_txn_version(t, "loader") == 9
        # crash-sim: a NEWER checkpoint attempt that died mid-set (part 1
        # of 3 only, pointer never moved) is ignored; v1 still anchors
        write_delta(
            spark.createDataFrame(
                [(5, "e", "x")], "k long, v string, p string"
            ),
            t,
        )
        src = parts[0]
        pq.write_table(
            pq.read_table(src),
            os.path.join(
                t,
                "_delta_log",
                f"{2:020d}.checkpoint.{1:010d}.{3:010d}.parquet",
            ),
        )
        assert sorted(_checkpoints(t)) == [1]  # incomplete set skipped
        assert read_delta(spark, t).count() == 5

    def test_default_part_size_keeps_small_tables_single_part(
        self, spark, tmp_path
    ):
        from marketdb_spark.sources.deltalog import (
            _checkpoints,
            write_checkpoint,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        write_delta(spark.createDataFrame([(1, "a")], "k long, v string"), t)
        write_checkpoint(t)
        [only] = _checkpoints(t)[0]
        assert only.endswith(f"{0:020d}.checkpoint.parquet")

    def test_classic_checkpoint_preferred_over_v2_at_same_version(
        self, spark, tmp_path
    ):
        """When a version has BOTH a complete classic layout (single- or
        multi-part) and a v2/UUID checkpoint, the classic one is chosen
        — no sidecar hop. Selection-only check: _checkpoints never opens
        the files."""
        from marketdb_spark.sources.deltalog import _checkpoints

        t = str(tmp_path / "tbl")
        log = os.path.join(t, "_delta_log")
        os.makedirs(log)
        u = "80a083e8-7026-4e79-81be-64bd76c43a11"
        names = [
            f"{3:020d}.checkpoint.{1:010d}.{2:010d}.parquet",
            f"{3:020d}.checkpoint.{2:010d}.{2:010d}.parquet",
            f"{3:020d}.checkpoint.{u}.json",
            f"{5:020d}.checkpoint.parquet",
            f"{5:020d}.checkpoint.{u}.parquet",
        ]
        for n in names:
            open(os.path.join(log, n), "w").close()
        picked = _checkpoints(t)
        assert [os.path.basename(p) for p in picked[3]] == names[:2]
        assert [os.path.basename(p) for p in picked[5]] == [names[3]]

    def test_delta_features_introspection(self, spark, tmp_path):
        """delta_features reports the unsupported-feature list WITHOUT
        raising, so users learn a table is unconsumable before starting
        a stream: a hand-crafted log with deletion vectors + column
        mapping lists both; our own tables come back streamable."""
        from marketdb_spark.sources.deltalog import (
            delta_features,
            write_delta,
        )

        t = str(tmp_path / "ours")
        write_delta(spark.createDataFrame([(1, "a")], "k long, v string"), t)
        feats = delta_features(t)
        assert feats["streamable"] and feats["unsupported"] == []
        assert feats["protocol"]["minReaderVersion"] == 1

        alien = str(tmp_path / "alien")
        log = os.path.join(alien, "_delta_log")
        os.makedirs(log)
        actions = [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors", "columnMapping"],
                }
            },
            {
                "metaData": {
                    "id": "m",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": spark.createDataFrame(
                        [(1,)], "k long"
                    ).schema.json(),
                    "partitionColumns": [],
                    "configuration": {
                        "delta.columnMapping.mode": "name",
                        "delta.enableDeletionVectors": "true",
                    },
                }
            },
        ]
        with open(os.path.join(log, f"{0:020d}.json"), "w") as f:
            for a in actions:
                f.write(json.dumps(a) + "\n")
        feats = delta_features(alien)
        # deletion vectors are fully consumable since round 12 (batch,
        # stream snapshot+tail, write paths materialize-on-rewrite), so
        # the config flag is NOT a blocker; columnMapping (name mode)
        # is fully supported too — this alien table is streamable
        assert feats["streamable"] and feats["unsupported"] == []
        # a CORRUPT v2/UUID checkpoint (empty file, no checkpointMetadata):
        # reported as a blocker, not raised — valid v2 layouts are
        # readable (TestDeltaV2Checkpoint)
        open(
            os.path.join(
                log,
                f"{0:020d}.checkpoint.80a083e8-7026-4e79-81be-64bd76c43a11.json",
            ),
            "w",
        ).close()
        feats = delta_features(alien)
        assert any(
            u.startswith("checkpointLayout:") for u in feats["unsupported"]
        )

    def test_writer_retries_lost_race(self, spark, tmp_path):
        """Another writer grabs the next version between the log listing
        and the O_EXCL create: the blind append retries onto the next
        free version instead of surfacing FileExistsError."""
        from marketdb_spark.sources.deltalog import read_delta, write_delta

        t = str(tmp_path / "tbl")
        df = spark.createDataFrame([(1, "a")], "k long, v string")
        assert write_delta(df, t) == 0
        # simulate the interleaved winner: version 1 already committed
        # with an empty commit
        open(os.path.join(t, "_delta_log", f"{1:020d}.json"), "w").close()
        assert write_delta(df, t) == 2
        assert read_delta(spark, t).count() == 2

    def test_txn_idempotent_commit(self, spark, tmp_path):
        """Delta setTransaction: a write replayed with the same
        (appId, version) is skipped — the streaming exactly-once
        primitive. A higher version commits; a different app is
        independent."""
        from marketdb_spark.sources.deltalog import (
            last_txn_version,
            read_delta,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        df = spark.createDataFrame([(1, "a")], "k long, v string")
        assert write_delta(df, t, txn_app="job", txn_version=0) == 0
        assert write_delta(df, t, txn_app="job", txn_version=0) is None
        assert last_txn_version(t, "job") == 0
        assert last_txn_version(t, "other") is None
        assert write_delta(df, t, txn_app="job", txn_version=1) == 2 - 1
        assert write_delta(df, t, txn_app="other", txn_version=0) == 2
        assert read_delta(spark, t).count() == 3  # not 4: one skip
        with pytest.raises(ValueError, match="together"):
            write_delta(df, t, txn_app="job")

    def test_append_schema_mismatch_raises(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import read_delta, write_delta

        t = str(tmp_path / "tbl")
        write_delta(
            spark.createDataFrame([(1, "a")], "k long, v string"), t
        )
        other = spark.createDataFrame([(1.5,)], "x double")
        with pytest.raises(ValueError, match="schema mismatch"):
            write_delta(other, t)
        # overwrite with a new schema re-emits metaData and reads back
        assert write_delta(other, t, mode="overwrite") == 1
        assert [tuple(r) for r in read_delta(spark, t).collect()] == [(1.5,)]

    def test_merge_schema_append_evolution(self, spark, tmp_path):
        """mergeSchema appends: union schema, NULL-fill in both
        directions (old files lack new columns; new batches may omit
        existing nullable columns), type conflicts raise, the table's
        configuration survives the metaData re-emit, and the default
        stays strict."""
        from marketdb_spark.sources.deltalog import (
            delta_features,
            read_change_feed,
            read_delta,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        write_delta(
            spark.createDataFrame([(1, "a")], "k long, v string").coalesce(1),
            t,
            enable_cdf=True,
        )
        write_delta(
            spark.createDataFrame(
                [(2, "b", 3.5)], "k long, v string, w double"
            ).coalesce(1),
            t,
            merge_schema=True,
        )
        got = read_delta(spark, t)
        assert got.columns == ["k", "v", "w"]
        assert sorted(tuple(r) for r in got.collect()) == [
            (1, "a", None), (2, "b", 3.5),
        ]
        # a batch omitting an existing nullable column
        write_delta(
            spark.createDataFrame([(9, 0.5)], "k long, w double").coalesce(1),
            t,
            merge_schema=True,
        )
        assert sorted(tuple(r) for r in read_delta(spark, t).collect()) == [
            (1, "a", None), (2, "b", 3.5), (9, None, 0.5),
        ]
        # table features survive the evolution re-emit
        feats = delta_features(t)
        assert feats["configuration"]["delta.enableChangeDataFeed"] == "true"
        assert read_change_feed(spark, t, 0).count() == 3
        # pre-evolution versions still read with their own schema
        assert read_delta(spark, t, version=0).columns == ["k", "v"]
        with pytest.raises(ValueError, match="type conflict"):
            write_delta(
                spark.createDataFrame([(1,)], "v long").coalesce(1),
                t,
                merge_schema=True,
            )
        with pytest.raises(ValueError, match="schema mismatch"):
            write_delta(
                spark.createDataFrame([(1, "q", 1.0, "z")],
                                      "k long, v string, w double, q string"),
                t,  # no merge_schema: strict
            )
        # overwrite + mergeSchema (delta-spark semantics): the UNION
        # schema survives — old-only columns read back NULL
        from marketdb_spark.sources.deltalog import read_delta as _rd

        write_delta(
            spark.createDataFrame([(42,)], "k long"),
            t,
            mode="overwrite",
            merge_schema=True,
        )
        back = _rd(spark, t)
        assert back.columns == ["k", "v", "w"]
        assert [tuple(r) for r in back.collect()] == [(42, None, None)]

    def test_version_at_scans_whole_commit_for_commitinfo(
        self, spark, tmp_path
    ):
        """A foreign commit whose commitInfo is NOT the first line must
        resolve to the same timestamp in delta_version_at as in
        delta_history (batch timestampAsOf vs streaming startingTimestamp
        parity)."""
        import json as _json

        from marketdb_spark.sources.deltalog import (
            delta_history,
            delta_version_at,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        write_delta(spark.createDataFrame([(1, "a")], "k long, v string"), t)
        h0 = delta_history(t)[0]["timestamp"]
        # foreign commit: add first, commitInfo last, stamped way in the
        # future so mtime-fallback (now) would resolve differently
        future = h0 + 10_000_000
        with open(
            os.path.join(t, "_delta_log", f"{1:020d}.json"), "w"
        ) as f:
            f.write(_json.dumps({"add": {"path": "x.parquet",
                                         "partitionValues": {},
                                         "dataChange": True}}) + "\n")
            f.write(_json.dumps({"commitInfo": {"timestamp": future}}) + "\n")
        hist = {r["version"]: r["timestamp"] for r in delta_history(t)}
        assert hist[1] == future
        assert delta_version_at(t, future) == 1
        assert delta_version_at(t, future - 1) == 0  # not mtime-resolved

    def test_replace_where_boolean_partition(self, spark, tmp_path):
        """Boolean partition predicates match Spark's lower-cased
        Hive-style encoding ('true'/'false'), whether passed as Python
        bools or as the protocol's canonical strings."""
        from marketdb_spark.sources.deltalog import read_delta, write_delta

        t = str(tmp_path / "tbl")
        schema = "k long, flag boolean"
        write_delta(
            spark.createDataFrame([(1, True), (2, False)], schema),
            t,
            partition_by=["flag"],
        )
        write_delta(
            spark.createDataFrame([(9, True)], schema),
            t,
            mode="overwrite",
            replace_where={"flag": [True]},
        )
        got = sorted(tuple(r) for r in read_delta(spark, t).collect())
        assert got == [(2, False), (9, True)]
        # canonical-string spelling is equivalent
        write_delta(
            spark.createDataFrame([(7, False)], schema),
            t,
            mode="overwrite",
            replace_where={"flag": ["false"]},
        )
        got = sorted(tuple(r) for r in read_delta(spark, t).collect())
        assert got == [(7, False), (9, True)]

    def test_commit_info_serializes_non_json_predicates(
        self, spark, tmp_path
    ):
        """A replace_where predicate carrying a datetime.date must commit
        (provenance falls back to str()) — the matcher accepts str()-able
        values, so provenance recording must too."""
        import datetime

        from marketdb_spark.sources.deltalog import (
            delta_history,
            read_delta,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        schema = "k long, d date"
        d1, d2 = datetime.date(2024, 1, 1), datetime.date(2024, 1, 2)
        write_delta(
            spark.createDataFrame([(1, d1), (2, d2)], schema),
            t,
            partition_by=["d"],
        )
        write_delta(
            spark.createDataFrame([(9, d1)], schema),
            t,
            mode="overwrite",
            replace_where={"d": [d1]},
        )
        got = sorted(tuple(r) for r in read_delta(spark, t).collect())
        assert got == [(2, d2), (9, d1)]
        assert "2024-01-01" in delta_history(t)[0]["operationParameters"][
            "predicate"
        ]


class TestDeltaColumnMapping:
    """Column mapping, NAME mode (PROTOCOL.md "Column Mapping"):
    physical names in the schemaString metadata, physically-named data
    files and partitionValues, logical user surface. Both directions —
    our writer's tables AND a hand-crafted foreign log — plus the
    documented raises (id mode, enable-on-existing, schema evolution)."""

    def test_writer_roundtrip_flat_partitioned(self, spark, tmp_path):
        import pyarrow.parquet as pq

        from marketdb_spark.sources.deltalog import (
            delta_features,
            delta_live_files,
            read_delta,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        schema = "k long, v string, p string"
        df = spark.createDataFrame(
            [(1, "a", "x"), (2, "b", "y"), (3, "c", "x")], schema
        )
        assert write_delta(
            df, t, partition_by=["p"], column_mapping="name"
        ) == 0
        # the storage layer speaks physical names end to end
        files = delta_live_files(t)
        assert files and all(f.startswith("col-") for f in files), files
        raw_cols = pq.read_schema(os.path.join(t, files[0])).names
        assert all(c.startswith("col-") for c in raw_cols), raw_cols
        feats = delta_features(t)
        assert feats["unsupported"] == [] and feats["streamable"]
        assert feats["protocol"] == {
            "minReaderVersion": 2, "minWriterVersion": 5,
        }
        assert feats["configuration"]["delta.columnMapping.mode"] == "name"
        assert int(feats["configuration"]["delta.columnMapping.maxColumnId"]) == 3
        # the user surface is logical
        got = read_delta(spark, t)
        assert got.columns == ["k", "v", "p"]
        assert not got.schema["k"].metadata  # mapping metadata stripped
        assert sorted(tuple(r) for r in got.collect()) == [
            (1, "a", "x"), (2, "b", "y"), (3, "c", "x"),
        ]
        # appends ADOPT the mapping (no argument needed)
        write_delta(spark.createDataFrame([(4, "d", "y")], schema), t)
        assert read_delta(spark, t).count() == 4
        assert all(f.startswith("col-") for f in delta_live_files(t))
        # time travel still maps
        assert read_delta(spark, t, version=0).count() == 3

    def test_writer_roundtrip_nested_struct(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import read_delta, write_delta

        t = str(tmp_path / "tbl")
        df = spark.createDataFrame(
            [(1, ("x", [(2,), (3,)])), (2, None)],
            "k long, deal struct<sym:string, legs:array<struct<qty:long>>>",
        )
        write_delta(df, t, column_mapping="name")
        got = read_delta(spark, t)
        assert got.schema == df.schema  # nested names mapped back
        assert sorted(
            str(sorted(r.asDict(recursive=True).items()))
            for r in got.collect()
        ) == sorted(
            str(sorted(r.asDict(recursive=True).items()))
            for r in df.collect()
        )

    def test_replace_where_and_optimize_on_mapped_table(
        self, spark, tmp_path
    ):
        from marketdb_spark.sources.deltalog import (
            delta_live_files,
            optimize_delta,
            read_delta,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        schema = "k long, v string, p string"
        write_delta(
            spark.createDataFrame(
                [(1, "a", "x"), (2, "b", "y"), (3, "c", "x")], schema
            ),
            t,
            partition_by=["p"],
            column_mapping="name",
        )
        # logical predicate scopes a physical-keyed overwrite
        write_delta(
            spark.createDataFrame([(9, "z", "x")], schema),
            t,
            mode="overwrite",
            replace_where={"p": ["x"]},
        )
        assert sorted(tuple(r) for r in read_delta(spark, t).collect()) == [
            (2, "b", "y"), (9, "z", "x"),
        ]
        # violation still enforced through the physical keys
        with pytest.raises(ValueError, match="replace_where violation"):
            write_delta(
                spark.createDataFrame([(8, "w", "y")], schema),
                t,
                mode="overwrite",
                replace_where={"p": ["x"]},
            )
        # pile up small files, then compact: same rows, fewer files
        for i in range(3):
            write_delta(
                spark.createDataFrame([(10 + i, "m", "y")], schema), t
            )
        before = sorted(tuple(r) for r in read_delta(spark, t).collect())
        n_files = len(delta_live_files(t))
        assert optimize_delta(spark, t) is not None
        assert sorted(tuple(r) for r in read_delta(spark, t).collect()) == before
        assert len(delta_live_files(t)) < n_files
        assert all(f.startswith("col-") for f in delta_live_files(t))

    def test_checkpoint_preserves_mapping(self, spark, tmp_path):
        """write_checkpoint + clean_log on a mapped table: protocol 2/5
        and the mapping configuration ride in the checkpoint, so the
        table still maps after the JSON prefix is retired."""
        from marketdb_spark.sources.deltalog import (
            clean_log,
            delta_features,
            read_delta,
            write_checkpoint,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        schema = "k long, v string"
        write_delta(
            spark.createDataFrame([(1, "a")], schema), t,
            column_mapping="name",
        )
        write_delta(spark.createDataFrame([(2, "b")], schema), t)
        write_checkpoint(t)
        assert clean_log(t)
        got = read_delta(spark, t)
        assert got.columns == ["k", "v"]
        assert sorted(tuple(r) for r in got.collect()) == [(1, "a"), (2, "b")]
        feats = delta_features(t)
        assert feats["protocol"]["minReaderVersion"] == 2
        assert feats["configuration"]["delta.columnMapping.mode"] == "name"
        # the checkpoint-anchored table keeps living
        write_delta(spark.createDataFrame([(3, "c")], schema), t)
        assert read_delta(spark, t).count() == 3

    def test_handcrafted_foreign_mapped_log(self, spark, tmp_path):
        """Spec fidelity, not writer round-trip: a foreign NAME-mode log
        (physical parquet names, metadata-carrying schemaString,
        protocol 2/5, physically-keyed partitionValues) reads back
        logical — including protocol v3 + readerFeatures spelling."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from marketdb_spark.sources.deltalog import read_delta

        t = str(tmp_path / "alien")
        os.makedirs(os.path.join(t, "_delta_log"))
        pq.write_table(
            pa.table({"col-aaa": pa.array([1, 2], pa.int64())}),
            os.path.join(t, "f1.parquet"),
        )
        schema_str = json.dumps(
            {
                "type": "struct",
                "fields": [
                    {
                        "name": "k",
                        "type": "long",
                        "nullable": True,
                        "metadata": {
                            "delta.columnMapping.id": 1,
                            "delta.columnMapping.physicalName": "col-aaa",
                        },
                    },
                    {
                        "name": "p",
                        "type": "string",
                        "nullable": True,
                        "metadata": {
                            "delta.columnMapping.id": 2,
                            "delta.columnMapping.physicalName": "col-bbb",
                        },
                    },
                ],
            }
        )
        actions = [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["columnMapping"],
                    "writerFeatures": ["columnMapping"],
                }
            },
            {
                "metaData": {
                    "id": "m",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema_str,
                    "partitionColumns": ["p"],  # LOGICAL per the protocol
                    "configuration": {"delta.columnMapping.mode": "name"},
                }
            },
            {
                "add": {
                    "path": "f1.parquet",
                    # partitionValues keyed by PHYSICAL name
                    "partitionValues": {"col-bbb": "east"},
                    "size": 1,
                    "dataChange": True,
                }
            },
        ]
        with open(
            os.path.join(t, "_delta_log", f"{0:020d}.json"), "w"
        ) as f:
            for a in actions:
                f.write(json.dumps(a) + "\n")
        got = read_delta(spark, t)
        assert got.columns == ["k", "p"]
        assert sorted(tuple(r) for r in got.collect()) == [
            (1, "east"), (2, "east"),
        ]

    def test_mapping_guards_raise(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import (
            read_delta,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        schema = "k long, v string"
        write_delta(
            spark.createDataFrame([(1, "a")], schema), t,
            column_mapping="name",
        )
        # enabling mapping on an existing plain table: refused
        t2 = str(tmp_path / "plain")
        write_delta(spark.createDataFrame([(1, "a")], schema), t2)
        with pytest.raises(ValueError, match="create-time only"):
            write_delta(
                spark.createDataFrame([(2, "b")], schema), t2,
                column_mapping="name",
            )
        # changing an existing table's mode (name → id): refused
        with pytest.raises(ValueError, match="create-time only"):
            write_delta(
                spark.createDataFrame([(2, "b")], schema), t,
                column_mapping="id",
            )
        # schema change on a mapped table without merge_schema: refused
        # (append + overwrite; with merge_schema appends EVOLVE —
        # test_mapped_schema_evolution)
        other = spark.createDataFrame([(1.5,)], "x double")
        with pytest.raises(ValueError, match="column-mapped"):
            write_delta(other, t)
        with pytest.raises(ValueError, match="column-mapped"):
            write_delta(other, t, mode="overwrite")
        # a foreign id-mode log whose schemaString LACKS the required
        # mapping metadata: loud raise, never a guessed column
        t3 = str(tmp_path / "idmode")
        os.makedirs(os.path.join(t3, "_delta_log"))
        with open(
            os.path.join(t3, "_delta_log", f"{0:020d}.json"), "w"
        ) as f:
            f.write(json.dumps({"protocol": {"minReaderVersion": 2,
                                             "minWriterVersion": 5}}) + "\n")
            f.write(json.dumps({
                "metaData": {
                    "id": "m",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": spark.createDataFrame(
                        [(1,)], "k long").schema.json(),
                    "partitionColumns": [],
                    "configuration": {"delta.columnMapping.mode": "id"},
                }
            }) + "\n")
        with pytest.raises(ValueError, match="lacks"):
            read_delta(spark, t3)

    def test_mapped_schema_evolution(self, spark, tmp_path):
        """mergeSchema on COLUMN-MAPPED tables (both modes): the new
        column gets a fresh col-<uuid> physicalName and an id ABOVE the
        table's maxColumnId, metaData re-emits with the bumped id, OLD
        files still resolve (new column null-filled — the id-mode
        footer preflight admits ids above a file's own maximum), a
        subset batch appends, and a type conflict still raises."""
        from pyspark.sql import types as T

        from marketdb_spark.sources.deltalog import (
            _replay,
            delta_live_files,
            read_delta,
            write_delta,
        )

        for mode in ("name", "id"):
            t = str(tmp_path / f"tbl_{mode}")
            write_delta(
                spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
                t,
                column_mapping=mode,
            )
            write_delta(
                spark.createDataFrame(
                    [(3, "c", 30.0)], "k long, v string, w double"
                ),
                t,
                merge_schema=True,
            )
            back = read_delta(spark, t)
            assert back.columns == ["k", "v", "w"]
            got = sorted(
                (r.k, r.v, r.w) for r in back.collect()
            )
            assert got == [(1, "a", None), (2, "b", None), (3, "c", 30.0)]
            snap = _replay(t, None)
            sch = T.StructType.fromJson(json.loads(snap.schema_json))
            md = {f.name: dict(f.metadata) for f in sch.fields}
            ids = {
                n: int(m["delta.columnMapping.id"]) for n, m in md.items()
            }
            assert ids["w"] > max(ids["k"], ids["v"])
            assert md["w"]["delta.columnMapping.physicalName"].startswith(
                "col-"
            )
            assert int(
                snap.config["delta.columnMapping.maxColumnId"]
            ) == ids["w"]
            # staged files speak physical names (never the logical "w")
            assert all(
                f.startswith("col-") or "/" not in f
                for f in delta_live_files(t)
            )
            # subset batch (old columns only) appends post-evolution
            write_delta(
                spark.createDataFrame([(4, "d")], "k long, v string"),
                t,
                merge_schema=True,
            )
            assert read_delta(spark, t).count() == 4
            # type conflict raises
            with pytest.raises(ValueError, match="type conflict"):
                write_delta(
                    spark.createDataFrame([(9, 1)], "k long, v long"),
                    t,
                    merge_schema=True,
                )

    def test_id_mode_writer_roundtrip(self, spark, tmp_path):
        """Column mapping ID mode: files carry parquet field ids
        (PARQUET:field_id footer metadata) under physical names, the
        logical surface round-trips, and delta_features reports the
        table streamable at protocol 2/5."""
        import pyarrow.parquet as pq

        from marketdb_spark.sources.deltalog import (
            delta_features,
            delta_live_files,
            read_delta,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        df = spark.createDataFrame(
            [(1, "a", "x"), (2, "b", "y"), (3, "c", "x")],
            "k long, v string, p string",
        )
        assert write_delta(
            df, t, partition_by=["p"], column_mapping="id"
        ) == 0
        files = delta_live_files(t)
        assert files and all(f.startswith("col-") for f in files)
        raw = pq.read_schema(os.path.join(t, files[0]))
        fids = {
            f.name: (f.metadata or {}).get(b"PARQUET:field_id")
            for f in raw
        }
        assert all(v is not None for v in fids.values()), fids
        feats = delta_features(t)
        assert feats["unsupported"] == [] and feats["streamable"]
        assert feats["protocol"] == {
            "minReaderVersion": 2, "minWriterVersion": 5,
        }
        assert feats["configuration"]["delta.columnMapping.mode"] == "id"
        back = read_delta(spark, t)
        assert back.columns == ["k", "v", "p"]
        assert sorted(tuple(r) for r in back.collect()) == [
            (1, "a", "x"), (2, "b", "y"), (3, "c", "x"),
        ]

    def test_id_mode_resolves_by_field_id_not_name(self, spark, tmp_path):
        """The defining property of id mode (Iceberg-converted / UniForm
        files carry arbitrary column names): rewrite every data file
        with GARBAGE column names but intact field ids — batch read,
        nested struct fields, and row-level DML must all still resolve
        correctly, and a file MISSING ids must raise, not null-fill."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from marketdb_spark.sources.deltadml import delete_delta
        from marketdb_spark.sources.deltalog import (
            delta_live_files,
            read_delta,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        df = spark.createDataFrame(
            [(1, ("a", 10), "x"), (2, ("b", 20), "y")],
            "k long, s struct<u: string, w: long>, p string",
        )
        write_delta(df, t, partition_by=["p"], column_mapping="id")

        def rename_all(mangle):
            for rel in delta_live_files(t):
                p0 = os.path.join(t, rel)
                tbl = pq.read_table(p0)
                nf = [
                    pa.field(f"g{i}", f.type, f.nullable, mangle(f))
                    for i, f in enumerate(tbl.schema)
                ]
                pq.write_table(
                    pa.table(tbl.columns, schema=pa.schema(nf)), p0
                )

        rename_all(lambda f: f.metadata)  # garbage names, ids intact
        got = sorted(tuple(r) for r in read_delta(spark, t).collect())
        assert got == [(1, ("a", 10), "x"), (2, ("b", 20), "y")]
        # DML reads by id and stages new files that carry ids again
        delete_delta(spark, t, "k = 2")
        got = sorted(tuple(r) for r in read_delta(spark, t).collect())
        assert got == [(1, ("a", 10), "x")]
        raw = pq.read_schema(
            os.path.join(t, delta_live_files(t)[0])
        )
        assert all(
            (f.metadata or {}).get(b"PARQUET:field_id") for f in raw
        )
        # NESTED ids stripped (top-level intact): the footer preflight
        # must catch it — Spark's field-id matcher would NULL-FILL the
        # nested struct fields instead of erroring
        for rel in delta_live_files(t):
            p0 = os.path.join(t, rel)
            tb = pq.read_table(p0)
            cols, nf = [], []
            for i, f in enumerate(tb.schema):
                col = tb.column(i).combine_chunks()
                if pa.types.is_struct(f.type):
                    kf = [
                        pa.field(
                            f.type.field(j).name,
                            f.type.field(j).type,
                            f.type.field(j).nullable,
                        )  # metadata (the nested field id) dropped
                        for j in range(f.type.num_fields)
                    ]
                    mask = col.is_null() if col.null_count else None
                    col = pa.StructArray.from_arrays(
                        [col.field(j) for j in range(f.type.num_fields)],
                        fields=kf,
                        mask=mask,
                    )
                    ft = col.type
                else:
                    ft = f.type
                cols.append(col)
                nf.append(pa.field(f.name, ft, f.nullable, f.metadata))
            pq.write_table(pa.table(cols, schema=pa.schema(nf)), p0)
        with pytest.raises(ValueError, match="field ids"):
            read_delta(spark, t).collect()
        # ALL ids stripped: loud failure too, no silent null-fill
        rename_all(lambda f: None)
        with pytest.raises(Exception, match="[Ff]ield [Ii]d|FIELD_ID"):
            read_delta(spark, t).collect()

    def test_on_disk_dv_malformed_descriptor_raises(self, spark, tmp_path):
        """An on-disk ('u') descriptor whose pathOrInlineDv is too short
        to hold a Z85 UUID raises by name at scan time — never a full
        (or guessed) file read. Valid on-disk DVs decode:
        TestDeletionVectors."""
        from marketdb_spark.sources.deltalog import read_delta, write_delta

        t = str(tmp_path / "tbl")
        write_delta(spark.createDataFrame([(1, "a")], "k long, v string"), t)
        with open(
            os.path.join(t, "_delta_log", f"{1:020d}.json"), "w"
        ) as f:
            f.write(json.dumps({
                "add": {
                    "path": "x.parquet",
                    "partitionValues": {},
                    "size": 1,
                    "dataChange": True,
                    "deletionVector": {
                        "storageType": "u",
                        "pathOrInlineDv": "abc",
                        "offset": 1, "sizeInBytes": 4, "cardinality": 1,
                    },
                }
            }) + "\n")
        with pytest.raises(ValueError, match="Z85-encoded UUID"):
            read_delta(spark, t)

    def test_foreign_nested_field_id_preflight(self, spark, tmp_path):
        """The r12-advice scenario, pinned against a FOREIGN
        delta-spark-shaped id-mode fixture with a NESTED struct: a data
        file carrying every nested id reads by id; a file that predates
        an evolved nested column (its whole subtree's ids above the
        file's max) null-fills by design; a file carrying a struct's
        TOP-LEVEL id but missing a child id is malformed and raises
        per-subtree — never Spark's silent nested null-fill."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql import types as T

        from marketdb_spark.sources.deltalog import read_delta

        def fld(name, dt, fid, phys):
            return T.StructField(
                name, dt, True,
                {
                    "delta.columnMapping.id": fid,
                    "delta.columnMapping.physicalName": phys,
                },
            )

        t = str(tmp_path / "tbl")
        os.makedirs(os.path.join(t, "_delta_log"))

        def pa_field(name, typ, fid):
            return pa.field(
                name, typ, metadata={b"PARQUET:field_id": str(fid).encode()}
            )

        good = pa.schema(
            [
                pa_field("col-a", pa.int64(), 1),
                pa_field(
                    "col-b",
                    pa.struct(
                        [
                            pa_field("col-c", pa.int64(), 3),
                            pa_field("col-d", pa.string(), 4),
                        ]
                    ),
                    2,
                ),
            ]
        )
        pq.write_table(
            pa.Table.from_pylist(
                [
                    {"col-a": 1, "col-b": {"col-c": 10, "col-d": "x"}},
                    {"col-a": 2, "col-b": {"col-c": 20, "col-d": "y"}},
                ],
                schema=good,
            ),
            os.path.join(t, "f1.parquet"),
        )
        schema = T.StructType(
            [
                fld("k", T.LongType(), 1, "col-a"),
                fld(
                    "s",
                    T.StructType(
                        [
                            fld("x", T.LongType(), 3, "col-c"),
                            fld("y", T.StringType(), 4, "col-d"),
                        ]
                    ),
                    2,
                    "col-b",
                ),
            ]
        )
        meta = {
            "metaData": {
                "id": "foreign", "format": {"provider": "parquet", "options": {}},
                "schemaString": schema.json(), "partitionColumns": [],
                "configuration": {
                    "delta.columnMapping.mode": "id",
                    "delta.columnMapping.maxColumnId": "4",
                },
            }
        }
        with open(os.path.join(t, "_delta_log", f"{0:020d}.json"), "w") as f:
            f.write(json.dumps({"protocol": {
                "minReaderVersion": 2, "minWriterVersion": 5,
            }}) + "\n")
            f.write(json.dumps(meta) + "\n")
            f.write(json.dumps({"add": {
                "path": "f1.parquet", "partitionValues": {},
                "size": 1, "dataChange": True,
            }}) + "\n")
        got = sorted(
            (r.k, r.s.x, r.s.y) for r in read_delta(spark, t).collect()
        )
        assert got == [(1, 10, "x"), (2, 20, "y")]
        # evolution shape: a column whose whole subtree exceeds the
        # file's max id (the file predates it) null-fills by design
        evolved = T.StructType(
            list(schema.fields)
            + [
                fld(
                    "z",
                    T.StructType([fld("w", T.LongType(), 6, "col-f")]),
                    5,
                    "col-e",
                ),
            ]
        )
        meta2 = {
            "metaData": {
                **meta["metaData"],
                "schemaString": evolved.json(),
                "configuration": {
                    "delta.columnMapping.mode": "id",
                    "delta.columnMapping.maxColumnId": "6",
                },
            }
        }
        with open(os.path.join(t, "_delta_log", f"{1:020d}.json"), "w") as f:
            f.write(json.dumps(meta2) + "\n")
        rows = read_delta(spark, t).collect()
        assert sorted(r.k for r in rows) == [1, 2]
        assert all(r.z is None for r in rows)
        # malformed shape: a file CARRYING the struct's top-level id
        # but missing a CHILD id raises per-subtree
        bad = pa.schema(
            [
                pa_field("col-a", pa.int64(), 1),
                pa_field(
                    "col-b",
                    pa.struct(
                        [
                            pa_field("col-c", pa.int64(), 3),
                            pa.field("col-d", pa.string()),  # id missing
                        ]
                    ),
                    2,
                ),
            ]
        )
        pq.write_table(
            pa.Table.from_pylist(
                [{"col-a": 3, "col-b": {"col-c": 30, "col-d": "z"}}],
                schema=bad,
            ),
            os.path.join(t, "f2.parquet"),
        )
        with open(os.path.join(t, "_delta_log", f"{2:020d}.json"), "w") as f:
            f.write(json.dumps({"add": {
                "path": "f2.parquet", "partitionValues": {},
                "size": 1, "dataChange": True,
            }}) + "\n")
        with pytest.raises(ValueError, match="no parquet field ids"):
            read_delta(spark, t).collect()


class TestDeltaCDF:
    """Change Data Feed (PROTOCOL.md "Add CDC File"): cdc actions +
    _change_data files from data-removing commits, read_change_feed
    over version ranges, derivation rules for commits without cdc
    files, and the documented raises."""

    def test_deletion_vector_commits_gate_the_feed(self, spark, tmp_path):
        """A foreign inline-DV row-level delete on a CDF table: ranges
        that EXCLUDE the DV commit derive the historical inserts as full
        files (the to_version snapshot's DVs never filter earlier
        versions), and ranges that INCLUDE it derive its row-level
        deletes by DV diff (r13 — the commits used to raise)."""
        from marketdb_spark.sources.deltadv import commit_inline_dv
        from marketdb_spark.sources.deltalog import (
            delta_live_files,
            read_change_feed,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        df = (
            spark.range(4)
            .selectExpr("id AS k", "CAST(id AS STRING) AS v")
            .coalesce(1)
            .sortWithinPartitions("k")
        )
        write_delta(df, t, enable_cdf=True)
        write_delta(
            spark.range(1).selectExpr(
                "id + 9 AS k", "CAST(id AS STRING) AS v"
            ),
            t,
        )
        rel = max(
            delta_live_files(t),
            key=lambda r: os.path.getsize(os.path.join(t, r)),
        )  # the 4-row v0 file
        assert commit_inline_dv(t, rel, [1, 2]) == 2
        # history below the DV commit reads as it was THEN: all 4 rows
        # of v0 plus v1's append, no retroactive DV filtering
        cf = read_change_feed(spark, t, 0, 1)
        assert sorted(r.k for r in cf.collect()) == [0, 1, 2, 3, 9]
        assert set(r._change_type for r in cf.collect()) == {"insert"}
        # the DV commit derives by diff: first vector → its positions
        cf2 = read_change_feed(spark, t, 2, 2)
        assert sorted(
            (r.k, r._change_type) for r in cf2.collect()
        ) == [(1, "delete"), (2, "delete")]
        full = read_change_feed(spark, t, 0, 2)
        assert sorted(
            (r.k, r._change_type) for r in full.collect()
        ) == [
            (0, "insert"), (1, "delete"), (1, "insert"), (2, "delete"),
            (2, "insert"), (3, "insert"), (9, "insert"),
        ]

    def test_remove_with_dv_derives_live_rows(self, spark, tmp_path):
        """A whole-file DELETE of a DV-carrying file (remove whose
        tombstone carries the descriptor, no re-add, no cdc — the shape
        this engine's own DML emits on DV tables without CDF) IS
        derivable: the delete rows are the file MINUS its vector, never
        the resurrected full file."""
        from marketdb_spark.sources.deltadv import commit_inline_dv
        from marketdb_spark.sources.deltalog import (
            delta_live_files,
            read_change_feed,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        write_delta(
            spark.range(4)
            .selectExpr("id AS k", "CAST(id AS STRING) AS v")
            .coalesce(1)
            .sortWithinPartitions("k"),
            t,
            enable_cdf=True,
        )
        [rel] = delta_live_files(t)
        commit_inline_dv(t, rel, [1, 2])  # v1: live = 0, 3
        # hand-craft v2: remove the file, descriptor on the tombstone
        log1 = os.path.join(t, "_delta_log", f"{1:020d}.json")
        [desc] = [
            json.loads(l)["add"]["deletionVector"]
            for l in open(log1)
            if '"add"' in l
        ]
        with open(os.path.join(t, "_delta_log", f"{2:020d}.json"), "w") as f:
            f.write(json.dumps({"commitInfo": {
                "operation": "DELETE", "timestamp": 1000,
            }}) + "\n")
            f.write(json.dumps({"remove": {
                "path": rel, "dataChange": True, "partitionValues": {},
                "deletionVector": desc,
            }}) + "\n")
        got = sorted(
            (r.k, r._change_type)
            for r in read_change_feed(spark, t, 2, 2).collect()
        )
        assert got == [(0, "delete"), (3, "delete")]

    def test_insert_append_overwrite_roundtrip(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import (
            read_change_feed,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        schema = "k long, v string, p string"
        write_delta(
            spark.createDataFrame([(1, "a", "x"), (2, "b", "y")], schema),
            t,
            partition_by=["p"],
            enable_cdf=True,
        )
        write_delta(spark.createDataFrame([(3, "c", "x")], schema), t)
        write_delta(
            spark.createDataFrame([(9, "z", "x")], schema),
            t,
            mode="overwrite",
            replace_where={"p": ["x"]},
        )
        cf = read_change_feed(spark, t, 0)
        got = sorted(
            (r.k, r._change_type, r._commit_version) for r in cf.collect()
        )
        assert got == [
            (1, "delete", 2), (1, "insert", 0), (2, "insert", 0),
            (3, "delete", 2), (3, "insert", 1), (9, "insert", 2),
        ]
        assert all(r._commit_timestamp is not None for r in cf.collect())
        # cdc actions recorded ONLY for the data-removing commit, and the
        # reader consumes exactly them for that commit (range slice)
        kinds = []
        for v in range(3):
            with open(
                os.path.join(t, "_delta_log", f"{v:020d}.json")
            ) as f:
                kinds.append(
                    sorted({next(iter(json.loads(l))) for l in f if l.strip()})
                )
        assert "cdc" not in kinds[0] and "cdc" not in kinds[1]
        assert "cdc" in kinds[2]
        only2 = sorted(
            (r.k, r._change_type)
            for r in read_change_feed(spark, t, 2, 2).collect()
        )
        assert only2 == [(1, "delete"), (3, "delete"), (9, "insert")]

    def test_cdf_with_id_mode_mapping(self, spark, tmp_path):
        """CDF composes with column-mapping ID mode exactly as with name
        mode: _change_data files are staged under physical names WITH
        field ids, DML attributes changes, and read_change_feed replays
        the logical surface — even after every data AND cdc file is
        rewritten with garbage column names (ids intact)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from marketdb_spark.sources.deltadml import delete_delta
        from marketdb_spark.sources.deltalog import (
            read_change_feed,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        write_delta(
            spark.createDataFrame(
                [(1, "a", "x"), (2, "b", "y")], "k long, v string, p string"
            ),
            t,
            partition_by=["p"],
            enable_cdf=True,
            column_mapping="id",
        )
        delete_delta(spark, t, "k = 2")
        # mangle every parquet under the table (data + _change_data):
        # id-carrying columns get garbage names (resolved BY ID); the
        # cdc files' _change_type has no id and resolves BY NAME, so its
        # name must survive — exactly the mixed contract of a real
        # id-mode CDF table
        for root, _dirs, names in os.walk(t):
            if "_delta_log" in root:
                continue
            for n in names:
                if not n.endswith(".parquet"):
                    continue
                p0 = os.path.join(root, n)
                tbl = pq.read_table(p0)
                nf = [
                    pa.field(
                        f"g{i}"
                        if (f.metadata or {}).get(b"PARQUET:field_id")
                        else f.name,
                        f.type,
                        f.nullable,
                        f.metadata,
                    )
                    for i, f in enumerate(tbl.schema)
                ]
                pq.write_table(pa.table(tbl.columns, schema=pa.schema(nf)), p0)
        cf = read_change_feed(spark, t, 0)
        got = sorted((r.k, r._change_type, r._commit_version) for r in cf.collect())
        assert got == [
            (1, "insert", 0), (2, "delete", 1), (2, "insert", 0),
        ]
        # the streaming CDF leg resolves by field id too
        from marketdb_spark.streaming.deltasource import (
            read_delta_cdf_stream,
        )

        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        q = (
            read_delta_cdf_stream(spark, t, startingVersion=0)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        sgot = sorted(
            (r.k, r._change_type, r._commit_version)
            for r in spark.read.parquet(out).collect()
        )
        assert sgot == got

    def test_derived_deletes_and_vacuum_interplay(self, spark, tmp_path):
        """A foreign data-removing commit WITHOUT cdc files derives its
        deletes by reading the removed file; once vacuum has reclaimed
        that file the reader raises BY NAME instead of under-reporting.
        vacuum never touches _change_data."""
        import json as _json

        from marketdb_spark.sources.deltalog import (
            delta_live_files,
            read_change_feed,
            vacuum_delta,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        schema = "k long, v string"
        write_delta(
            spark.createDataFrame([(1, "a"), (2, "b")], schema),
            t,
            enable_cdf=True,
        )
        # our writer's overwrite at v1 leaves _change_data behind
        write_delta(
            spark.createDataFrame([(9, "z")], schema).coalesce(1),
            t,
            mode="overwrite",
        )
        # foreign remove-only commit at v2, no cdc recorded
        [live] = delta_live_files(t)
        with open(
            os.path.join(t, "_delta_log", f"{2:020d}.json"), "w"
        ) as f:
            f.write(
                _json.dumps(
                    {"remove": {"path": live, "dataChange": True}}
                )
                + "\n"
            )
        got = sorted(
            (r.k, r._change_type, r._commit_version)
            for r in read_change_feed(spark, t, 0).collect()
        )
        assert (9, "delete", 2) in got  # derived from the removed file
        # vacuum reclaims the removed file but leaves _change_data alone
        deleted = vacuum_delta(t, min_file_age_seconds=0)
        assert live in deleted
        assert not any(d.startswith("_change_data") for d in deleted)
        assert os.path.isdir(os.path.join(t, "_change_data"))
        # v1 still reads (its cdc files are intact); v0's derived inserts
        # and v2's derived deletes both raise BY NAME — their action
        # files are gone
        assert sorted(
            (r.k, r._change_type)
            for r in read_change_feed(spark, t, 1, 1).collect()
        ) == [(1, "delete"), (2, "delete"), (9, "insert")]
        with pytest.raises(ValueError, match="vacuumed"):
            read_change_feed(spark, t, 0, 0).count()
        with pytest.raises(ValueError, match="vacuumed"):
            read_change_feed(spark, t, 2, 2).count()

    def test_optimize_contributes_no_changes(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import (
            optimize_delta,
            read_change_feed,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        schema = "k long, v string"
        write_delta(
            spark.createDataFrame([(1, "a")], schema), t, enable_cdf=True
        )
        write_delta(spark.createDataFrame([(2, "b")], schema), t)
        v = optimize_delta(spark, t)
        assert v is not None
        assert read_change_feed(spark, t, v, v).count() == 0

    def test_cdf_with_column_mapping(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import (
            read_change_feed,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        schema = "k long, v string, p string"
        write_delta(
            spark.createDataFrame([(1, "a", "x"), (2, "b", "y")], schema),
            t,
            partition_by=["p"],
            enable_cdf=True,
            column_mapping="name",
        )
        write_delta(
            spark.createDataFrame([(9, "z", "x")], schema),
            t,
            mode="overwrite",
            replace_where={"p": ["x"]},
        )
        cf = read_change_feed(spark, t, 0)
        assert cf.columns[:3] == ["k", "v", "p"]  # logical surface
        got = sorted(
            (r.k, r.p, r._change_type, r._commit_version)
            for r in cf.collect()
        )
        assert got == [
            (1, "x", "delete", 1), (1, "x", "insert", 0),
            (2, "y", "insert", 0), (9, "x", "insert", 1),
        ]

    def test_guards(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import (
            read_change_feed,
            write_delta,
        )

        t = str(tmp_path / "plain")
        schema = "k long, v string"
        write_delta(spark.createDataFrame([(1, "a")], schema), t)
        with pytest.raises(ValueError, match="change data was not recorded"):
            read_change_feed(spark, t, 0)
        with pytest.raises(ValueError, match="create-time only"):
            write_delta(
                spark.createDataFrame([(2, "b")], schema), t,
                enable_cdf=True,
            )
        t2 = str(tmp_path / "cdf")
        write_delta(
            spark.createDataFrame([(1, "a")], schema), t2, enable_cdf=True
        )
        with pytest.raises(ValueError, match="invalid change-feed range"):
            read_change_feed(spark, t2, 1, 0)
        with pytest.raises(ValueError, match="not in"):
            read_change_feed(spark, t2, 0, 5)  # beyond the latest version


class TestDeltaDML:
    """Row-level DELETE/UPDATE/MERGE (sources/deltadml.py): file-granular
    copy-on-write commits, CDF change attribution per clause, column
    mapping composition, and the documented guards."""

    def _mk(self, spark, t, cdf=True, mapping=None):
        from marketdb_spark.sources.deltalog import write_delta

        df = spark.createDataFrame(
            [(1, "a", "x"), (2, "b", "y"), (3, "c", "x"), (4, "d", "z")],
            "k long, v string, p string",
        ).coalesce(2)
        write_delta(
            df, t, partition_by=["p"], enable_cdf=cdf,
            column_mapping=mapping,
        )

    def test_delete_file_granular_with_cdf(self, spark, tmp_path):
        from marketdb_spark.sources.deltadml import delete_delta
        from marketdb_spark.sources.deltalog import (
            delta_history,
            delta_live_files,
            read_change_feed,
            read_delta,
        )

        t = str(tmp_path / "tbl")
        self._mk(spark, t)
        before_z = [f for f in delta_live_files(t) if f.startswith("p=z")]
        v = delete_delta(spark, t, "k = 3")
        assert v == 1
        got = sorted(tuple(r) for r in read_delta(spark, t).collect())
        assert got == [(1, "a", "x"), (2, "b", "y"), (4, "d", "z")]
        # only the file containing k=3 was rewritten
        assert [
            f for f in delta_live_files(t) if f.startswith("p=z")
        ] == before_z
        # time travel to the pre-delete state works
        assert read_delta(spark, t, version=0).count() == 4
        # no-op delete commits nothing
        assert delete_delta(spark, t, "k = 99") is None
        assert delta_history(t)[0]["operation"] == "DELETE"
        cf = read_change_feed(spark, t, 1, 1)
        assert [(r.k, r._change_type) for r in cf.collect()] == [
            (3, "delete")
        ]

    def test_update_with_partition_move_and_cdf(self, spark, tmp_path):
        from marketdb_spark.sources.deltadml import update_delta
        from marketdb_spark.sources.deltalog import (
            read_change_feed,
            read_delta,
        )

        t = str(tmp_path / "tbl")
        self._mk(spark, t)
        v = update_delta(spark, t, "p = 'y'", {"v": "upper(v)"})
        assert v == 1
        got = sorted(tuple(r) for r in read_delta(spark, t).collect())
        assert (2, "B", "y") in got and len(got) == 4
        cf = read_change_feed(spark, t, 1, 1)
        assert sorted((r.k, r.v, r._change_type) for r in cf.collect()) == [
            (2, "B", "update_postimage"), (2, "b", "update_preimage"),
        ]
        # updating the PARTITION column moves the row between partitions
        v = update_delta(spark, t, "k = 4", {"p": "'x'"})
        assert v == 2
        got = {r.k: r.p for r in read_delta(spark, t).collect()}
        assert got[4] == "x"
        # unknown column guard
        with pytest.raises(ValueError, match="unknown columns"):
            update_delta(spark, t, "k = 1", {"nope": "1"})
        # no-op
        assert update_delta(spark, t, "k = 99", {"v": "'q'"}) is None

    def test_merge_clauses_and_cdf_attribution(self, spark, tmp_path):
        from marketdb_spark.sources.deltadml import merge_delta
        from marketdb_spark.sources.deltalog import (
            read_change_feed,
            read_delta,
        )

        t = str(tmp_path / "tbl")
        schema = "k long, v string, p string"
        self._mk(spark, t)
        # whole-row update + insert
        src = spark.createDataFrame([(1, "A1", "x"), (9, "new", "y")], schema)
        v = merge_delta(spark, t, src, on=["k"])
        assert v == 1
        got = sorted(tuple(r) for r in read_delta(spark, t).collect())
        assert (1, "A1", "x") in got and (9, "new", "y") in got
        assert len(got) == 5
        cf = read_change_feed(spark, t, 1, 1)
        assert sorted((r.k, r._change_type) for r in cf.collect()) == [
            (1, "update_postimage"), (1, "update_preimage"),
            (9, "insert"),
        ]
        # SET-dict clause referencing src columns
        src2 = spark.createDataFrame([(2, "ZZ", "y")], schema)
        merge_delta(
            spark, t, src2, on=["k"],
            when_matched={"v": "concat(src.v, '!')"},
            when_not_matched=None,
        )
        assert {r.v for r in read_delta(spark, t).filter("k=2").collect()} == {
            "ZZ!"
        }
        # delete clause
        merge_delta(
            spark, t,
            spark.createDataFrame([(3,)], "k long"),
            on=["k"], when_matched="delete", when_not_matched=None,
        )
        assert read_delta(spark, t).filter("k=3").count() == 0
        cfd = read_change_feed(spark, t, 3, 3)
        assert [(r.k, r._change_type) for r in cfd.collect()] == [
            (3, "delete")
        ]
        # duplicate source keys: nondeterministic merge raises
        with pytest.raises(ValueError, match="duplicate keys"):
            merge_delta(
                spark, t,
                spark.createDataFrame(
                    [(1, "q", "x"), (1, "r", "x")], schema
                ),
                on=["k"],
            )
        # insert-only merge on all-new keys
        v = merge_delta(
            spark, t,
            spark.createDataFrame([(77, "w", "z")], schema),
            on=["k"], when_matched=None,
        )
        assert v is not None
        assert read_delta(spark, t).filter("k=77").count() == 1
        # full no-op returns None
        assert (
            merge_delta(
                spark, t,
                spark.createDataFrame([], schema),
                on=["k"],
            )
            is None
        )

    def test_merge_not_matched_by_source(self, spark, tmp_path):
        """WHEN NOT MATCHED BY SOURCE: the full-sync shape makes the
        table equal the source; the SET-dict form updates unmatched
        target rows in place; CDF attributes every clause."""
        from marketdb_spark.sources.deltadml import merge_delta
        from marketdb_spark.sources.deltalog import (
            read_change_feed,
            read_delta,
        )

        t = str(tmp_path / "tbl")
        schema = "k long, v string, p string"
        self._mk(spark, t)
        src = spark.createDataFrame([(1, "A", "x"), (9, "n", "y")], schema)
        v = merge_delta(
            spark, t, src, on=["k"],
            when_matched="update",
            when_not_matched="insert",
            when_not_matched_by_source="delete",
        )
        assert v == 1
        got = sorted(tuple(r) for r in read_delta(spark, t).collect())
        assert got == [(1, "A", "x"), (9, "n", "y")]  # table == source
        cf = sorted(
            (r.k, r._change_type)
            for r in read_change_feed(spark, t, 1, 1).collect()
        )
        assert cf == [
            (1, "update_postimage"), (1, "update_preimage"),
            (2, "delete"), (3, "delete"), (4, "delete"), (9, "insert"),
        ]
        # SET-dict NMBS with no other clause
        t2 = str(tmp_path / "tbl2")
        self._mk(spark, t2, cdf=False)
        merge_delta(
            spark, t2,
            spark.createDataFrame([(1,), (2,)], "k long"),
            on=["k"],
            when_matched=None,
            when_not_matched=None,
            when_not_matched_by_source={"v": "'stale'"},
        )
        got = {r.k: r.v for r in read_delta(spark, t2).collect()}
        assert got == {1: "a", 2: "b", 3: "stale", 4: "stale"}
        with pytest.raises(ValueError, match="not_matched_by_source"):
            merge_delta(
                spark, t2,
                spark.createDataFrame([(1,)], "k long"),
                on=["k"],
                when_not_matched_by_source="insert",
            )

    def test_merge_conditional_clauses(self, spark, tmp_path):
        """Per-clause conditions (delta-spark's whenMatchedUpdate/Delete/
        whenNotMatchedInsert/whenNotMatchedBySource* condition=...):
        rows a condition rejects fall through UNCHANGED, files whose
        candidate rows all fail the condition are NOT rewritten, CDF
        attributes only actually-touched rows, and the guards hold."""
        from marketdb_spark.sources.deltadml import merge_delta
        from marketdb_spark.sources.deltalog import (
            delta_history,
            delta_live_files,
            read_change_feed,
            read_delta,
        )

        schema = "k long, v string, p string"
        t = str(tmp_path / "tbl")
        self._mk(spark, t)  # (1,a,x) (2,b,y) (3,c,x) (4,d,z), CDF on

        # conditional matched UPDATE: source hits k=1 and k=2, but the
        # condition lets only src.v='A' through → k=2 stays 'b' and its
        # file (p=y) is not rewritten
        before_y = {f for f in delta_live_files(t) if f.startswith("p=y")}
        src = spark.createDataFrame([(1, "A", "x"), (2, "REJECT", "y")], schema)
        v = merge_delta(
            spark, t, src, on=["k"],
            when_matched="update", when_not_matched=None,
            matched_condition="src.v = 'A'",
        )
        assert v == 1
        got = {r.k: r.v for r in read_delta(spark, t).collect()}
        assert got == {1: "A", 2: "b", 3: "c", 4: "d"}
        assert {f for f in delta_live_files(t) if f.startswith("p=y")} == before_y
        cf = read_change_feed(spark, t, 1, 1)
        assert sorted((r.k, r._change_type) for r in cf.collect()) == [
            (1, "update_postimage"), (1, "update_preimage"),
        ]
        hist = {h["version"]: h for h in delta_history(t)}
        assert hist[1]["operationParameters"]["matchedCondition"] == "src.v = 'A'"

        # conditional matched DELETE on a target predicate: source hits
        # k=1 (p=x) and k=4 (p=z); only the p=x row deletes
        merge_delta(
            spark, t,
            spark.createDataFrame([(1,), (4,)], "k long"),
            on=["k"], when_matched="delete", when_not_matched=None,
            matched_condition="tgt.p = 'x'",
        )
        got = {r.k for r in read_delta(spark, t).collect()}
        assert got == {2, 3, 4}
        cfd = read_change_feed(spark, t, 2, 2)
        assert [(r.k, r._change_type) for r in cfd.collect()] == [(1, "delete")]

        # conditional INSERT: only source rows passing the condition
        # append; NULL condition = not applied (TRUE-only semantics)
        merge_delta(
            spark, t,
            spark.createDataFrame(
                [(8, "ok", "x"), (9, "no", "y"), (10, None, "z")], schema
            ),
            on=["k"], when_matched=None, when_not_matched="insert",
            not_matched_condition="src.v = 'ok'",
        )
        got = {r.k for r in read_delta(spark, t).collect()}
        assert got == {2, 3, 4, 8}
        cfi = read_change_feed(spark, t, 3, 3)
        assert [(r.k, r._change_type) for r in cfi.collect()] == [(8, "insert")]

        # conditional NOT MATCHED BY SOURCE: unmatched target rows update
        # only where the (target-only) condition holds
        merge_delta(
            spark, t,
            spark.createDataFrame([(2, "b2", "y")], schema),
            on=["k"], when_matched="update", when_not_matched=None,
            when_not_matched_by_source={"v": "'stale'"},
            not_matched_by_source_condition="tgt.p = 'z'",
        )
        got = {r.k: r.v for r in read_delta(spark, t).collect()}
        assert got == {2: "b2", 3: "c", 4: "stale", 8: "ok"}

        # guards: src reference in the target-only condition; a
        # condition without its clause
        with pytest.raises(ValueError, match="non-target columns"):
            merge_delta(
                spark, t,
                spark.createDataFrame([(2, "x", "y")], schema),
                on=["k"], when_matched="update",
                when_not_matched_by_source="delete",
                not_matched_by_source_condition="src.v = 'a'",
            )
        with pytest.raises(ValueError, match="cannot stand alone"):
            merge_delta(
                spark, t,
                spark.createDataFrame([(2, "x", "y")], schema),
                on=["k"], when_matched=None, when_not_matched=None,
                matched_condition="tgt.p = 'x'",
            )

    def test_restore_to_version(self, spark, tmp_path):
        """RESTORE: the live set returns to the historical snapshot's in
        one new commit (no data movement — the re-added files are the
        original paths), history is preserved, CDF records the diff, a
        no-op restore returns None, and a vacuumed target raises by
        name."""
        from marketdb_spark.sources.deltadml import (
            delete_delta,
            restore_delta,
        )
        from marketdb_spark.sources.deltalog import (
            delta_history,
            delta_live_files,
            read_change_feed,
            read_delta,
            vacuum_delta,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        self._mk(spark, t)
        files_v0 = delta_live_files(t)
        delete_delta(spark, t, "k <= 2")
        write_delta(
            spark.createDataFrame(
                [(8, "h", "x")], "k long, v string, p string"
            ),
            t,
        )
        v = restore_delta(spark, t, 0)
        assert v == 3
        assert delta_live_files(t) == files_v0  # exact snapshot, no copies
        got = sorted(tuple(r) for r in read_delta(spark, t).collect())
        assert got == [
            (1, "a", "x"), (2, "b", "y"), (3, "c", "x"), (4, "d", "z"),
        ]
        # pre-restore states remain time-travelable
        assert read_delta(spark, t, version=2).filter("k=8").count() == 1
        assert delta_history(t)[0]["operation"] == "RESTORE"
        cf = read_change_feed(spark, t, 3, 3)
        changes = sorted((r.k, r._change_type) for r in cf.collect())
        assert (8, "delete") in changes  # the restore removed the append
        assert (1, "insert") in changes and (2, "insert") in changes
        assert restore_delta(spark, t, 3) is None  # already there
        # vacuum the now-dead k=8 file, then a restore to v2 must raise
        vacuum_delta(t, min_file_age_seconds=0)
        with pytest.raises(ValueError, match="vacuumed"):
            restore_delta(spark, t, 2)
        # and the failed restore committed nothing
        assert delta_history(t)[0]["operation"] == "RESTORE"

    def test_dml_on_column_mapped_table(self, spark, tmp_path):
        from marketdb_spark.sources.deltadml import (
            delete_delta,
            merge_delta,
            update_delta,
        )
        from marketdb_spark.sources.deltalog import (
            delta_live_files,
            read_delta,
        )

        t = str(tmp_path / "tbl")
        self._mk(spark, t, cdf=True, mapping="name")
        delete_delta(spark, t, "k = 3")
        update_delta(spark, t, "k = 2", {"v": "'B'"})
        merge_delta(
            spark, t,
            spark.createDataFrame([(9, "n", "x")], "k long, v string, p string"),
            on=["k"],
        )
        got = sorted(tuple(r) for r in read_delta(spark, t).collect())
        assert got == [
            (1, "a", "x"), (2, "B", "y"), (4, "d", "z"), (9, "n", "x"),
        ]
        assert all(f.startswith("col-") for f in delta_live_files(t))


class TestDeltaCheckpoint:
    """Checkpoint WRITER + log retention (sources/deltalog.py
    write_checkpoint/clean_log): the compaction loop that pairs with the
    checkpoint-only READ path."""

    def test_checkpoint_then_clean_log_roundtrip(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import (
            clean_log,
            delta_versions,
            last_txn_version,
            read_delta,
            write_checkpoint,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        a = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        b = spark.createDataFrame([(3, "c")], "k long, v string")
        write_delta(a, t, txn_app="job", txn_version=7)
        write_delta(b, t)
        assert write_checkpoint(t) == 1
        assert os.path.exists(
            os.path.join(t, "_delta_log", "_last_checkpoint")
        )
        removed = clean_log(t)
        assert len(removed) == 2 and delta_versions(t) == []
        # checkpoint-only table: reads, txn marks, and appends all work
        rows = lambda df: sorted(tuple(r) for r in df.collect())
        assert rows(read_delta(spark, t)) == [(1, "a"), (2, "b"), (3, "c")]
        assert last_txn_version(t, "job") == 7
        assert write_delta(a, t, txn_app="job", txn_version=7) is None
        assert write_delta(b, t) == 2
        assert read_delta(spark, t).count() == 4
        # time travel below the checkpoint is gone (documented loss)
        with pytest.raises(ValueError):
            read_delta(spark, t, version=0)

    def test_checkpoint_preserves_partition_values(self, spark, tmp_path):
        """Checkpoint rows carry partitionValues as map<string,string>;
        replaying through a written checkpoint must re-attach partition
        columns exactly as JSON replay did."""
        from marketdb_spark.sources.deltalog import (
            clean_log,
            read_delta,
            write_checkpoint,
        )

        mk = TestDeltaLog()
        t = str(tmp_path / "tbl")
        os.makedirs(t)
        mk._mk_file(t, "f1.parquet", [(1, "a")])
        mk._mk_file(t, "f2.parquet", [(2, "b")])
        mk._commit(t, 0, [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            mk._meta(partition_cols=["p"]),
            {"add": {"path": "f1.parquet", "partitionValues": {"p": "x"},
                     "size": 1, "dataChange": True}},
            {"add": {"path": "f2.parquet", "partitionValues": {"p": "y"},
                     "size": 1, "dataChange": True}},
        ])
        write_checkpoint(t)
        clean_log(t)
        got = sorted(tuple(r) for r in read_delta(spark, t).collect())
        assert got == [(1, "a", "x"), (2, "b", "y")]

    def test_clean_log_without_checkpoint_refuses(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import clean_log, write_delta

        t = str(tmp_path / "tbl")
        write_delta(
            spark.createDataFrame([(1, "a")], "k long, v string"), t
        )
        with pytest.raises(ValueError, match="checkpoint"):
            clean_log(t)


class TestDeltaPartitionedWrites:
    """Partitioned write_delta (sources/deltalog.py): Hive-style
    ``col=value`` data layout with add.partitionValues authoritative,
    the reference's partitioned K1 sink (MarketDB.scala:170-210)
    expressed in Delta's protocol. Plus the no-orphans contract: every
    non-success exit unstages its data files."""

    def _orphans(self, spark, t):
        """part-*.parquet under the table that the CURRENT live set does
        not reference."""
        from marketdb_spark.sources.deltalog import _replay

        live = set(_replay(t, None)[2])
        found = set()
        for root, _dirs, files in os.walk(t):
            if "_delta_log" in root:
                continue
            for f in files:
                if f.endswith(".parquet"):
                    found.add(os.path.relpath(os.path.join(root, f), t))
        return found - live

    def test_partitioned_roundtrip_time_travel_and_layout(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import read_delta, write_delta

        t = str(tmp_path / "tbl")
        df = spark.createDataFrame(
            [(1, "2024-01-01", "a"), (2, "2024-01-02", "b")],
            "k long, d string, v string",
        )
        assert write_delta(df, t, partition_by=["d"]) == 0
        # Hive-style dirs on disk; data files do NOT carry the partition col
        assert sorted(
            x for x in os.listdir(t) if x.startswith("d=")
        ) == ["d=2024-01-01", "d=2024-01-02"]
        got = read_delta(spark, t)
        assert sorted(tuple(r) for r in got.collect()) == [
            (1, "2024-01-01", "a"),
            (2, "2024-01-02", "b"),
        ]
        assert got.columns == ["k", "d", "v"]
        # append ADOPTS the table's partitioning without partition_by
        more = spark.createDataFrame(
            [(3, "2024-01-02", "c")], "k long, d string, v string"
        )
        assert write_delta(more, t) == 1
        assert read_delta(spark, t).count() == 3
        assert read_delta(spark, t, version=0).count() == 2  # time travel
        # add actions carry partitionValues (authoritative per protocol)
        with open(os.path.join(t, "_delta_log", f"{1:020d}.json")) as f:
            adds = [
                json.loads(line)["add"]
                for line in f
                if '"add"' in line
            ]
        assert all(a["partitionValues"] == {"d": "2024-01-02"} for a in adds)
        assert all(a["size"] > 0 and a["modificationTime"] > 0 for a in adds)
        assert self._orphans(spark, t) == set()

    def test_null_and_special_partition_values_roundtrip(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import read_delta, write_delta

        t = str(tmp_path / "tbl")
        df = spark.createDataFrame(
            [(1, None, "a"), (2, "x y/z", "b")], "k long, d string, v string"
        )
        write_delta(df, t, partition_by=["d"])
        got = sorted(
            (r.k, r.d, r.v) for r in read_delta(spark, t).collect()
        )
        assert got == [(1, None, "a"), (2, "x y/z", "b")]

    def test_partition_by_mismatch_raises_and_unstages(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import read_delta, write_delta

        t = str(tmp_path / "tbl")
        df = spark.createDataFrame(
            [(1, "d1", "a")], "k long, d string, v string"
        )
        write_delta(df, t, partition_by=["d"])
        with pytest.raises(ValueError, match="disagrees"):
            write_delta(df, t, partition_by=["v"])
        with pytest.raises(ValueError, match="disagrees"):
            write_delta(df, t, partition_by=[])
        assert self._orphans(spark, t) == set()
        assert read_delta(spark, t).count() == 1

    def test_failed_append_leaves_no_orphan_files(self, spark, tmp_path):
        """ADVICE r6: schema-mismatch appends and final-loss conflicts
        must unlink their staged part files, not abandon them in the
        table directory."""
        from marketdb_spark.sources.deltalog import write_delta

        t = str(tmp_path / "tbl")
        write_delta(
            spark.createDataFrame([(1, "a")], "k long, v string"), t
        )
        with pytest.raises(ValueError, match="schema mismatch"):
            write_delta(spark.createDataFrame([(1.5,)], "x double"), t)
        assert self._orphans(spark, t) == set()

    def test_commit_conflict_after_retries_unstages(self, spark, tmp_path, monkeypatch):
        """Force 5 straight lost races: the writer must raise
        CommitConflict AND remove every staged file."""
        import marketdb_spark.sources.deltalog as dl
        from marketdb_spark.sources.snapshot import CommitConflict

        t = str(tmp_path / "tbl")
        dl.write_delta(
            spark.createDataFrame([(1, "a")], "k long, v string"), t
        )
        real_link = os.link

        def always_lose(src, dst, *a, **k):
            if "_delta_log" in dst and dst.endswith(".json"):
                raise FileExistsError(dst)
            return real_link(src, dst, *a, **k)

        monkeypatch.setattr(os, "link", always_lose)
        with pytest.raises(CommitConflict):
            dl.write_delta(
                spark.createDataFrame([(2, "b")], "k long, v string"), t
            )
        monkeypatch.undo()
        assert self._orphans(spark, t) == set()

    def test_partitioned_checkpoint_clean_log_time_travel(self, spark, tmp_path):
        """VERDICT r6 done-condition: date-partitioned table round trip
        write → checkpoint → clean_log → read + time travel, all through
        the partitionValues-authoritative path."""
        from marketdb_spark.sources.deltalog import (
            clean_log,
            delta_versions,
            read_delta,
            write_checkpoint,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        for i, d in enumerate(["2024-01-01", "2024-01-02", "2024-01-03"]):
            df = spark.createDataFrame(
                [(i, d, float(i))], "k long, d string, x double"
            )
            assert write_delta(df, t, partition_by=["d"]) == i
        assert write_checkpoint(t, version=1) == 1
        removed = clean_log(t)
        assert len(removed) == 2  # commits 0 and 1 compacted away
        assert delta_versions(t) == [2]
        assert read_delta(spark, t).count() == 3
        # time travel to the checkpointed version still works (1 ≤ ckpt)
        assert sorted(r.d for r in read_delta(spark, t, version=1).collect()) == [
            "2024-01-01",
            "2024-01-02",
        ]


class TestDeltaCheckpointEdges:
    def test_checkpoint_has_required_protocol_fields(self, spark, tmp_path):
        """ADVICE r6: external readers parse add.size,
        add.modificationTime, metaData.format and metaData.configuration
        out of checkpoint rows — they must be present and sane."""
        import pyarrow.parquet as pq

        from marketdb_spark.sources.deltalog import write_checkpoint, write_delta

        t = str(tmp_path / "tbl")
        write_delta(
            spark.createDataFrame([(1, "a")], "k long, v string"), t
        )
        v = write_checkpoint(t)
        rows = pq.read_table(
            os.path.join(t, "_delta_log", f"{v:020d}.checkpoint.parquet")
        ).to_pylist()
        [meta] = [r["metaData"] for r in rows if r["metaData"]]
        assert meta["format"]["provider"] == "parquet"
        assert meta["configuration"] == []  # empty map
        adds = [r["add"] for r in rows if r["add"]]
        assert adds and all(
            a["size"] > 0 and a["modificationTime"] > 0 for a in adds
        )

    def test_last_checkpoint_pointer_is_monotone(self, spark, tmp_path):
        """ADVICE r6: re-materializing an OLDER checkpoint must not
        rewind _last_checkpoint — after clean_log anchors to the newest
        checkpoint, a rewound pointer would strand external readers."""
        from marketdb_spark.sources.deltalog import write_checkpoint, write_delta

        t = str(tmp_path / "tbl")
        for i in range(3):
            write_delta(
                spark.createDataFrame([(i, "a")], "k long, v string"), t
            )
        assert write_checkpoint(t) == 2
        assert write_checkpoint(t, version=0) == 0  # historical rebuild
        with open(os.path.join(t, "_delta_log", "_last_checkpoint")) as f:
            assert json.load(f)["version"] == 2  # pointer did NOT rewind

    def test_checkpoint_only_concurrent_writers_exactly_one_commit(
        self, spark, tmp_path
    ):
        """VERDICT r6 item 10: two writers racing on a table whose JSON
        prefix was cleaned (checkpoint-only state) — exactly one commit
        per version above the checkpoint, replay sees every row exactly
        once. Serialized-thread variant of the snapshot race tests: both
        writers observe the SAME checkpoint-only state, then race the
        os.link publish."""
        import threading

        from marketdb_spark.sources.deltalog import (
            clean_log,
            delta_versions,
            read_delta,
            write_checkpoint,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        write_delta(
            spark.createDataFrame([(0, "seed")], "k long, v string"), t
        )
        write_checkpoint(t)
        clean_log(t)
        assert delta_versions(t) == []  # checkpoint-only

        errs: list[Exception] = []
        versions: list[int] = []
        barrier = threading.Barrier(2)
        dfs = [
            spark.createDataFrame([(i, "w")], "k long, v string")
            for i in (1, 2)
        ]

        def writer(df):
            barrier.wait()
            try:
                versions.append(write_delta(df, t))
            except Exception as e:  # CommitConflict after retries is legal
                errs.append(e)

        threads = [threading.Thread(target=writer, args=(d,)) for d in dfs]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        # both writers retry through the race: two distinct versions,
        # both ABOVE the checkpoint version (0), no errors expected at
        # this contention level
        assert errs == []
        assert sorted(versions) == [1, 2]
        got = sorted(r.k for r in read_delta(spark, t).collect())
        assert got == [0, 1, 2]  # exactly-once: seed + one row per writer


class TestDeltaV2Checkpoint:
    """V2/UUID checkpoint layouts (PROTOCOL.md "V2 Spec Checkpoints"):
    sidecar-less JSON, parquet with sidecars, layout guards, and the
    reader/writer feature split (read yes, write obligations no)."""

    _UUID = "80a083e8-7026-4e79-81be-64bd76c43a11"

    @staticmethod
    def _clean(v):
        """classic-checkpoint pylist row → JSON-able action value:
        map columns come back as (k, v) tuple lists, absent struct
        fields as None."""
        if isinstance(v, list) and v and isinstance(v[0], tuple):
            return dict(v)
        if isinstance(v, list):
            return [TestDeltaV2Checkpoint._clean(x) for x in v]
        if isinstance(v, dict):
            return {
                k: TestDeltaV2Checkpoint._clean(x)
                for k, x in v.items()
                if x is not None
            }
        return v

    def _mk_table(self, spark, t):
        """Three commits, partitioned; returns the checkpoint version."""
        from marketdb_spark.sources.deltalog import (
            write_checkpoint,
            write_delta,
        )

        schema = "k long, v string, p string"
        write_delta(
            spark.createDataFrame(
                [(1, "a", "x"), (2, "b", "y")], schema
            ),
            t, partition_by=["p"],
        )
        write_delta(spark.createDataFrame([(3, "c", "x")], schema), t)
        write_delta(spark.createDataFrame([(4, "d", "z")], schema), t)
        return write_checkpoint(t)

    def _classic_rows(self, t, v):
        import pyarrow.parquet as pq

        return pq.read_table(
            os.path.join(t, "_delta_log", f"{v:020d}.checkpoint.parquet")
        ).to_pylist()

    def _drop_classic(self, t, v):
        """Remove the classic checkpoint + pointer + covered JSONs, so
        only the v2 layout can anchor the replay."""
        log = os.path.join(t, "_delta_log")
        os.remove(os.path.join(log, f"{v:020d}.checkpoint.parquet"))
        os.remove(os.path.join(log, "_last_checkpoint"))
        for i in range(v + 1):
            p = os.path.join(log, f"{i:020d}.json")
            if os.path.exists(p):
                os.remove(p)

    def test_sidecarless_json_v2_reads_and_streams(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import (
            delta_features,
            read_delta,
            write_delta,
        )
        from marketdb_spark.streaming.deltasource import read_delta_stream

        t = str(tmp_path / "tbl")
        v = self._mk_table(spark, t)
        rows = self._classic_rows(t, v)
        v2 = os.path.join(
            t, "_delta_log", f"{v:020d}.checkpoint.{self._UUID}.json"
        )
        with open(v2, "w") as f:
            f.write(json.dumps(
                {"checkpointMetadata": {"version": v}}
            ) + "\n")
            for r in rows:
                act = {
                    k: self._clean(x) for k, x in r.items() if x is not None
                }
                f.write(json.dumps(act) + "\n")
        self._drop_classic(t, v)
        got = sorted(tuple(r) for r in read_delta(spark, t).collect())
        assert got == [
            (1, "a", "x"), (2, "b", "y"), (3, "c", "x"), (4, "d", "z"),
        ]
        assert delta_features(t)["streamable"]
        # appends on top of the v2-anchored snapshot still work (the
        # table itself declares no v2Checkpoint writer feature)
        write_delta(
            spark.createDataFrame([(5, "e", "x")], "k long, v string, p string"),
            t,
        )
        assert read_delta(spark, t).count() == 5
        # and the streaming source replays snapshot + tail through it
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        q = (
            read_delta_stream(spark, t)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert spark.read.parquet(out).count() == 5

    def test_parquet_v2_with_sidecars(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from marketdb_spark.sources.deltalog import read_delta

        t = str(tmp_path / "tbl")
        v = self._mk_table(spark, t)
        rows = self._classic_rows(t, v)
        adds = [r["add"] for r in rows if r.get("add")]
        [meta] = [r["metaData"] for r in rows if r.get("metaData")]
        [proto] = [r["protocol"] for r in rows if r.get("protocol")]
        assert len(adds) >= 2  # split across two sidecars below
        add_t = pa.struct([
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
        ])
        side_schema = pa.schema(
            [("add", add_t), ("remove", pa.struct([("path", pa.string())]))]
        )
        sdir = os.path.join(t, "_delta_log", "_sidecars")
        os.makedirs(sdir)

        def sidecar(name, subset):
            data = [
                {"add": {
                    "path": a["path"],
                    "partitionValues": self._clean(a["partitionValues"]),
                    "size": a["size"],
                    "modificationTime": a["modificationTime"],
                    "dataChange": True,
                }}
                for a in subset
            ]
            pq.write_table(
                pa.Table.from_pylist(data, schema=side_schema),
                os.path.join(sdir, name),
            )

        sidecar("s1.parquet", adds[:1])
        sidecar("s2.parquet", adds[1:])
        main_schema = pa.schema([
            ("protocol", pa.struct([
                ("minReaderVersion", pa.int64()),
                ("minWriterVersion", pa.int64()),
            ])),
            ("metaData", pa.struct([
                ("id", pa.string()),
                ("format", pa.struct([("provider", pa.string())])),
                ("schemaString", pa.string()),
                ("partitionColumns", pa.list_(pa.string())),
                ("configuration", pa.map_(pa.string(), pa.string())),
            ])),
            ("checkpointMetadata", pa.struct([("version", pa.int64())])),
            ("sidecar", pa.struct([
                ("path", pa.string()), ("sizeInBytes", pa.int64()),
            ])),
        ])
        main = [
            {"protocol": {
                "minReaderVersion": proto["minReaderVersion"],
                "minWriterVersion": proto["minWriterVersion"],
            }},
            {"metaData": {
                "id": meta["id"],
                "format": {"provider": "parquet"},
                "schemaString": meta["schemaString"],
                "partitionColumns": self._clean(meta["partitionColumns"]),
                "configuration": self._clean(meta["configuration"]) or {},
            }},
            {"checkpointMetadata": {"version": v}},
            {"sidecar": {"path": "s1.parquet", "sizeInBytes": 1}},
            {"sidecar": {"path": "s2.parquet", "sizeInBytes": 1}},
        ]
        pq.write_table(
            pa.Table.from_pylist(main, schema=main_schema),
            os.path.join(
                t, "_delta_log", f"{v:020d}.checkpoint.{self._UUID}.parquet"
            ),
        )
        self._drop_classic(t, v)
        got = sorted(tuple(r) for r in read_delta(spark, t).collect())
        assert got == [
            (1, "a", "x"), (2, "b", "y"), (3, "c", "x"), (4, "d", "z"),
        ]

    def test_v2_guards(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import read_delta

        t = str(tmp_path / "tbl")
        v = self._mk_table(spark, t)
        rows = self._classic_rows(t, v)
        log = os.path.join(t, "_delta_log")

        def write_v2(lines, name=None):
            p = os.path.join(
                log, name or f"{v:020d}.checkpoint.{self._UUID}.json"
            )
            with open(p, "w") as f:
                for line in lines:
                    f.write(json.dumps(line) + "\n")
            return p

        acts = [
            {k: self._clean(x) for k, x in r.items() if x is not None}
            for r in rows
        ]
        # wrong checkpointMetadata.version: corrupt, loud
        p = write_v2([{"checkpointMetadata": {"version": v + 7}}] + acts)
        self._drop_classic(t, v)
        with pytest.raises(ValueError, match="checkpointMetadata.version"):
            read_delta(spark, t)
        # no checkpointMetadata at all: malformed, loud
        write_v2(acts)
        with pytest.raises(ValueError, match="no checkpointMetadata"):
            read_delta(spark, t)
        # referenced sidecar missing: loud, never a partial file set
        write_v2(
            [{"checkpointMetadata": {"version": v}}]
            + acts
            + [{"sidecar": {"path": "nope.parquet", "sizeInBytes": 1}}]
        )
        with pytest.raises(ValueError, match="missing sidecar"):
            read_delta(spark, t)
        os.remove(p)
        # an unrecognized checkpoint spelling still raises at discovery
        weird = os.path.join(log, f"{v:020d}.checkpoint.weird.parquet")
        with open(weird, "w") as f:
            f.write("x")
        with pytest.raises(ValueError, match="unsupported checkpoint"):
            read_delta(spark, t)

    def test_v2checkpoint_writer_obligation(self, spark, tmp_path):
        """A v7 table declaring v2Checkpoint is WRITABLE: commits land
        normally and write_checkpoint honors the feature's obligation —
        it emits the sidecar-less UUID-named v2 JSON layout (leading
        checkpointMetadata marker, every action inline) instead of a
        classic checkpoint, and the table replays from it alone after
        clean_log."""
        import re

        from marketdb_spark.sources.deltalog import (
            clean_log,
            delta_features,
            last_txn_version,
            read_delta,
            write_checkpoint,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        write_delta(
            spark.createDataFrame([(1, "a")], "k long, v string"), t
        )
        with open(
            os.path.join(t, "_delta_log", f"{1:020d}.json"), "w"
        ) as f:
            f.write(json.dumps({"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": ["v2Checkpoint"],
                "writerFeatures": ["v2Checkpoint"],
            }}) + "\n")
        assert delta_features(t)["unsupported"] == []
        write_delta(
            spark.createDataFrame([(2, "b")], "k long, v string"), t,
            txn_app="app", txn_version=7,
        )
        assert write_checkpoint(t) == 2
        [ck] = [
            n
            for n in os.listdir(os.path.join(t, "_delta_log"))
            if re.fullmatch(
                r"\d{20}\.checkpoint\."
                r"[0-9a-f\-]{36}\.json", n
            )
        ]
        with open(os.path.join(t, "_delta_log", ck)) as f:
            acts = [json.loads(l) for l in f if l.strip()]
        assert acts[0] == {"checkpointMetadata": {"version": 2}}
        assert any("protocol" in a for a in acts)
        assert sum(1 for a in acts if "add" in a) >= 2  # all live files
        removed = clean_log(t)
        assert removed  # JSON commits <= 2 replaced by the v2 file
        got = sorted(tuple(r) for r in read_delta(spark, t).collect())
        assert got == [(1, "a"), (2, "b")]
        # txn high-water marks survive the v2 checkpoint
        assert last_txn_version(t, "app") == 7
        # and the next commit + checkpoint keep working on top of it
        write_delta(
            spark.createDataFrame([(3, "c")], "k long, v string"), t
        )
        assert write_checkpoint(t) == 3
        assert read_delta(spark, t).count() == 3


class TestDeletionVectors:
    """Inline deletion vectors (sources/deltadv.py): the Z85 / roaring
    codecs against their public spec vectors, the reader roundtrip
    through a protocol-correct DV commit, and every documented guard
    (on-disk DVs, corrupt descriptors, checkpoint/stream/writer legs)."""

    def test_z85_spec_vector(self):
        """ZeroMQ RFC 32's published test vector pins the alphabet and
        block coding — the one part of the format with an official
        byte-exact example."""
        from marketdb_spark.sources.deltadv import z85_decode, z85_encode

        raw = bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])
        assert z85_encode(raw) == "HelloWorld"
        assert z85_decode("HelloWorld") == raw
        with pytest.raises(ValueError, match="not \\*4"):
            z85_encode(b"abc")
        with pytest.raises(ValueError, match="invalid Z85"):
            z85_decode('"""""')

    def test_roaring_roundtrip_array_bitmap_buckets(self):
        """Writer arrays + bitmap containers and multi-bucket 64-bit
        keys round-trip; magic and truncation guards raise."""
        import random

        from marketdb_spark.sources.deltadv import (
            deserialize_dv,
            serialize_dv,
        )

        rng = random.Random(11)
        rows = sorted(
            set(rng.sample(range(200_000), 7000))  # forces a bitmap ctr
            | {0, 65535, 65536}                    # container boundaries
            | {(3 << 32) | 7, (3 << 32) | 8}       # high 64-bit bucket
        )
        assert deserialize_dv(serialize_dv(rows)) == rows
        assert deserialize_dv(serialize_dv([])) == []
        with pytest.raises(ValueError, match="magic"):
            deserialize_dv(b"\x00" * 16)

    def test_roaring_run_container_and_cookie_12347(self):
        """The reader must also decode what OTHER writers emit: the
        run-container cookie (12347) with the run bitset and
        [start, length-1] run pairs — hand-built per RoaringFormatSpec."""
        import struct

        from marketdb_spark.sources.deltadv import DV_MAGIC, deserialize_dv

        rb32 = (
            struct.pack("<I", 12347)      # SERIAL_COOKIE, count-1=0
            + b"\x01"                     # run bitset: container 0 is run
            + struct.pack("<HH", 0, 4)    # key 0, cardinality-1 = 4
            + struct.pack("<H", 1)        # one run
            + struct.pack("<HH", 10, 4)   # values 10..14
        )
        data = (
            struct.pack("<I", DV_MAGIC)
            + struct.pack("<Q", 1)
            + struct.pack("<I", 0)
            + rb32
        )
        assert deserialize_dv(data) == [10, 11, 12, 13, 14]

    def test_reader_applies_inline_dv(self, spark, tmp_path):
        """The acid test: a protocol-correct inline-DV commit against a
        live file drops exactly those row POSITIONS on read; time travel
        below the DV commit still sees every row; a second DV on the
        same file REPLACES the first (remove+re-add semantics)."""
        from marketdb_spark.sources.deltadv import commit_inline_dv
        from marketdb_spark.sources.deltalog import (
            delta_live_files,
            read_delta,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        df = (
            spark.range(10)
            .selectExpr("id AS k", "CAST(id * 2 AS STRING) AS v")
            .coalesce(1)
            .sortWithinPartitions("k")
        )
        write_delta(df, t)
        [rel] = delta_live_files(t)
        v = commit_inline_dv(t, rel, [1, 3, 5])
        assert v == 1
        assert sorted(r.k for r in read_delta(spark, t).collect()) == [
            0, 2, 4, 6, 7, 8, 9,
        ]
        assert read_delta(spark, t, version=0).count() == 10
        commit_inline_dv(t, rel, [0])  # replaces, not unions
        assert sorted(r.k for r in read_delta(spark, t).collect()) == [
            1, 2, 3, 4, 5, 6, 7, 8, 9,
        ]

    def test_inline_dv_on_partitioned_table(self, spark, tmp_path):
        from marketdb_spark.sources.deltadv import commit_inline_dv
        from marketdb_spark.sources.deltalog import (
            delta_live_files,
            read_delta,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        df = spark.createDataFrame(
            [(i, "x" if i < 4 else "y") for i in range(8)], "k long, p string"
        ).repartition(1, "p")
        write_delta(
            df.sortWithinPartitions("k"), t, partition_by=["p"]
        )
        [xfile] = [f for f in delta_live_files(t) if f.startswith("p=x")]
        commit_inline_dv(t, xfile, [0, 2])  # positions within the x file
        got = sorted((r.k, r.p) for r in read_delta(spark, t).collect())
        assert got == [(1, "x"), (3, "x"), (4, "y"), (5, "y"), (6, "y"), (7, "y")]

    def test_dv_guards(self, spark, tmp_path):
        """Corrupt descriptors raise (cardinality mismatch); the
        streaming snapshot leg applies the DV. The write-path lifecycle
        on DV tables (append/checkpoint/OPTIMIZE/DML) is
        test_dv_table_write_lifecycle."""
        from marketdb_spark.sources.deltadv import commit_inline_dv
        from marketdb_spark.sources.deltalog import (
            delta_live_files,
            read_delta,
            write_delta,
        )
        from marketdb_spark.streaming.deltasource import read_delta_stream

        t = str(tmp_path / "tbl")
        df = spark.range(6).selectExpr("id AS k").coalesce(1)
        write_delta(df.sortWithinPartitions("k"), t)
        [rel] = delta_live_files(t)
        commit_inline_dv(t, rel, [2])
        # corrupt: patch the committed descriptor's cardinality
        log = os.path.join(t, "_delta_log", f"{1:020d}.json")
        lines = [json.loads(x) for x in open(log) if x.strip()]
        for a in lines:
            if "add" in a:
                a["add"]["deletionVector"]["cardinality"] = 99
        t2 = str(tmp_path / "tbl2")
        import shutil as _sh

        _sh.copytree(t, t2)
        with open(os.path.join(t2, "_delta_log", f"{1:020d}.json"), "w") as f:
            for a in lines:
                f.write(json.dumps(a) + "\n")
        with pytest.raises(ValueError, match="cardinality"):
            read_delta(spark, t2).collect()
        # the streaming SNAPSHOT leg APPLIES the DV (a tailed commit
        # adding a DV-carrying file still raises — its row-level change
        # needs a DV diff; pinned in tests/test_streaming.py)
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        q = (
            read_delta_stream(spark, t)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert sorted(r.k for r in spark.read.parquet(out).collect()) == [
            0, 1, 3, 4, 5,
        ]

    def test_dv_table_write_lifecycle(self, spark, tmp_path):
        """deletionVectors is a GRANTED writer feature via
        MATERIALIZE-ON-REWRITE (never creates a DV): appends land new
        files untouched; write_checkpoint PERSISTS descriptors so
        clean_log never resurrects soft-deleted rows; DML rewrites a
        DV-carrying file from its LIVE rows and drops the descriptor
        (the tombstone carries it); OPTIMIZE treats a DV-carrying file
        as rewrite-eligible below the loose-file threshold (PURGE);
        vacuum never reclaims deletion_vector_*.bin."""
        from marketdb_spark.sources.deltadml import delete_delta
        from marketdb_spark.sources.deltadv import (
            commit_inline_dv,
            commit_ondisk_dv,
            dv_file_path,
        )
        from marketdb_spark.sources.deltalog import (
            _replay,
            clean_log,
            delta_live_files,
            optimize_delta,
            read_delta,
            vacuum_delta,
            write_checkpoint,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        write_delta(
            spark.range(8).selectExpr("id AS k").coalesce(1)
            .sortWithinPartitions("k"),
            t,
        )
        [rel] = delta_live_files(t)
        commit_ondisk_dv(t, {rel: [1, 3]})  # v1: live = 0,2,4,5,6,7
        dvf = dv_file_path(_replay(t, None).dvs[rel], t)
        # append: allowed, no DV obligation touched
        write_delta(spark.range(100, 101).selectExpr("id AS k"), t)
        live_now = [0, 2, 4, 5, 6, 7, 100]
        assert sorted(r.k for r in read_delta(spark, t).collect()) == live_now
        # checkpoint persists the descriptor across log cleanup
        assert write_checkpoint(t) == 2
        clean_log(t)
        assert sorted(r.k for r in read_delta(spark, t).collect()) == live_now
        assert _replay(t, None).dvs  # descriptor survived the checkpoint
        # DML rewrites the DV-carrying file from its LIVE rows and the
        # descriptor is gone afterwards
        delete_delta(spark, t, "k = 4")
        assert sorted(r.k for r in read_delta(spark, t).collect()) == [
            0, 2, 5, 6, 7, 100,
        ]
        assert not _replay(t, None).dvs
        # the DML tombstone carries the descriptor it removed
        with open(os.path.join(t, "_delta_log", f"{3:020d}.json")) as f:
            rms = [
                json.loads(l)["remove"] for l in f if '"remove"' in l
            ]
        assert any(r.get("deletionVector") for r in rms)
        # fresh inline DV + OPTIMIZE: a single DV-carrying file is
        # rewrite-eligible below the threshold (PURGE) — the descriptor
        # is materialized away, counts unchanged
        big = max(
            delta_live_files(t),
            key=lambda r: os.path.getsize(os.path.join(t, r)),
        )
        commit_inline_dv(t, big, [0])
        n = read_delta(spark, t).count()
        assert n == 5  # one more row soft-deleted from the big file
        assert optimize_delta(spark, t) is not None
        assert read_delta(spark, t).count() == n
        assert not _replay(t, None).dvs
        # vacuum reclaims the replaced parquet files, never the DV file
        gone = vacuum_delta(t, min_file_age_seconds=0)
        assert gone and all(g.endswith(".parquet") for g in gone)
        assert os.path.exists(dvf)
        assert sorted(r.k for r in read_delta(spark, t).collect())[-1] == 100

    def test_reader_applies_ondisk_dv_u_and_p(self, spark, tmp_path):
        """On-disk deletion vectors round-trip through the real reader
        in BOTH path encodings — 'u' (prefix + Z85-of-UUID, relative to
        the table root) and 'p' (absolute path) — with one multi-frame
        DV FILE shared by two data files, exactly how delta-spark packs
        one DELETE's vectors; time travel below the DV commit still
        sees every row."""
        from marketdb_spark.sources.deltadv import commit_ondisk_dv
        from marketdb_spark.sources.deltalog import (
            delta_live_files,
            read_delta,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        df = spark.createDataFrame(
            [(i, "x" if i < 4 else "y") for i in range(8)], "k long, p string"
        ).repartition(1, "p")
        write_delta(df.sortWithinPartitions("k"), t, partition_by=["p"])
        [xf] = [f for f in delta_live_files(t) if f.startswith("p=x")]
        [yf] = [f for f in delta_live_files(t) if f.startswith("p=y")]
        # one DV file, two frames: positions within each data file
        v = commit_ondisk_dv(t, {xf: [0, 2], yf: [3]})
        assert v == 1
        got = sorted((r.k, r.p) for r in read_delta(spark, t).collect())
        assert got == [(1, "x"), (3, "x"), (4, "y"), (5, "y"), (6, "y")]
        assert read_delta(spark, t, version=0).count() == 8
        # absolute-path ('p') descriptors replace the 'u' ones
        t2 = str(tmp_path / "tbl2")
        write_delta(
            spark.range(5).selectExpr("id AS k").coalesce(1)
            .sortWithinPartitions("k"),
            t2,
        )
        [rel] = delta_live_files(t2)
        commit_ondisk_dv(t2, {rel: [0, 4]}, absolute=True)
        assert sorted(r.k for r in read_delta(spark, t2).collect()) == [
            1, 2, 3,
        ]

    def test_ondisk_dv_framing_guards(self, spark, tmp_path):
        """Every field of the DV file framing is verified: format
        version byte, frame dataSize vs descriptor sizeInBytes, CRC-32,
        file existence — and an unknown storageType raises by name."""
        from marketdb_spark.sources.deltadv import (
            commit_ondisk_dv,
            dv_file_path,
        )
        from marketdb_spark.sources.deltalog import (
            delta_live_files,
            read_delta,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        write_delta(
            spark.range(6).selectExpr("id AS k").coalesce(1)
            .sortWithinPartitions("k"),
            t,
        )
        [rel] = delta_live_files(t)
        commit_ondisk_dv(t, {rel: [2, 5]})
        log = os.path.join(t, "_delta_log", f"{1:020d}.json")
        actions = [json.loads(x) for x in open(log) if x.strip()]
        [desc] = [
            a["add"]["deletionVector"] for a in actions if "add" in a
        ]
        dvf = dv_file_path(desc, t)
        blob = open(dvf, "rb").read()
        assert sorted(r.k for r in read_delta(spark, t).collect()) == [
            0, 1, 3, 4,
        ]

        def rewrite(b: bytes) -> None:
            with open(dvf, "wb") as f:
                f.write(b)

        # format-version byte
        rewrite(bytes([9]) + blob[1:])
        with pytest.raises(ValueError, match="format version"):
            read_delta(spark, t).collect()
        # CRC-32 over the payload
        off = int(desc["offset"])
        corrupted = bytearray(blob)
        corrupted[off + 4 + 2] ^= 0xFF
        rewrite(bytes(corrupted))
        with pytest.raises(ValueError, match="CRC-32"):
            read_delta(spark, t).collect()
        rewrite(blob)
        # frame dataSize != descriptor sizeInBytes
        desc_bad = {**desc, "sizeInBytes": int(desc["sizeInBytes"]) + 1}
        with open(log, "w") as f:
            for a in actions:
                if "add" in a:
                    a = {"add": {**a["add"], "deletionVector": desc_bad}}
                f.write(json.dumps(a) + "\n")
        with pytest.raises(ValueError, match="dataSize"):
            read_delta(spark, t).collect()
        # unknown storageType
        desc_x = {**desc, "storageType": "x"}
        with open(log, "w") as f:
            for a in actions:
                if "add" in a:
                    a = {"add": {**a["add"], "deletionVector": desc_x}}
                f.write(json.dumps(a) + "\n")
        with pytest.raises(ValueError, match="unknown storageType"):
            read_delta(spark, t).collect()
        # missing DV file
        with open(log, "w") as f:
            for a in actions:
                f.write(json.dumps(a) + "\n")
        os.remove(dvf)
        with pytest.raises(ValueError, match="does not exist"):
            read_delta(spark, t).collect()

    def test_ondisk_dv_streams_in_snapshot(self, spark, tmp_path):
        """The deltastream snapshot leg applies ON-DISK DVs too (same
        executor-side position mask as inline)."""
        from marketdb_spark.sources.deltadv import commit_ondisk_dv
        from marketdb_spark.sources.deltalog import (
            delta_live_files,
            write_delta,
        )
        from marketdb_spark.streaming.deltasource import read_delta_stream

        t = str(tmp_path / "tbl")
        write_delta(
            spark.range(7).selectExpr("id AS k").coalesce(1)
            .sortWithinPartitions("k"),
            t,
        )
        [rel] = delta_live_files(t)
        commit_ondisk_dv(t, {rel: [0, 3, 6]})
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        q = (
            read_delta_stream(spark, t)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert sorted(r.k for r in spark.read.parquet(out).collect()) == [
            1, 2, 4, 5,
        ]


class TestDomainMetadata:
    """domainMetadata (PROTOCOL.md "Domain Metadata", writer v7):
    replay tracks the latest action per domain, removal tombstones
    hide domains, checkpoints PRESERVE live domains across clean_log
    (the actual writer obligation — dropping a foreign clustering
    domain would corrupt that writer's state), and the granted
    features unblock writes and vacuum."""

    def _mk_with_domains(self, spark, t):
        from marketdb_spark.sources.deltalog import write_delta

        write_delta(spark.createDataFrame([(1, "a")], "k long, v string"), t)
        with open(os.path.join(t, "_delta_log", f"{1:020d}.json"), "w") as f:
            f.write(json.dumps({"protocol": {
                "minReaderVersion": 1, "minWriterVersion": 7,
                "writerFeatures": ["domainMetadata", "vacuumProtocolCheck"],
            }}) + "\n")
            f.write(json.dumps({"domainMetadata": {
                "domain": "delta.clustering",
                "configuration": '{"cols":["k"]}', "removed": False,
            }}) + "\n")
            f.write(json.dumps({"domainMetadata": {
                "domain": "tmp.scratch", "configuration": "x",
                "removed": False,
            }}) + "\n")
        with open(os.path.join(t, "_delta_log", f"{2:020d}.json"), "w") as f:
            f.write(json.dumps({"domainMetadata": {
                "domain": "tmp.scratch", "configuration": None,
                "removed": True,
            }}) + "\n")

    def test_lifecycle_and_checkpoint_preservation(self, spark, tmp_path):
        import pyarrow.parquet as pq

        from marketdb_spark.sources.deltalog import (
            clean_log,
            delta_domain_metadata,
            read_delta,
            vacuum_delta,
            write_checkpoint,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        self._mk_with_domains(spark, t)
        # latest-wins + removal tombstone
        assert delta_domain_metadata(t) == {
            "delta.clustering": '{"cols":["k"]}'
        }
        # granted features: appends and vacuum proceed
        write_delta(spark.createDataFrame([(2, "b")], "k long, v string"), t)
        vacuum_delta(t, min_file_age_seconds=0)
        # checkpoint carries the live domain, drops the tombstone;
        # clean_log then removes every covered JSON commit — the domain
        # must SURVIVE (a checkpoint that dropped it would corrupt the
        # foreign writer's state)
        v = write_checkpoint(t)
        rows = pq.read_table(os.path.join(
            t, "_delta_log", f"{v:020d}.checkpoint.parquet"
        )).to_pylist()
        doms = [r["domainMetadata"] for r in rows if r.get("domainMetadata")]
        assert [d["domain"] for d in doms] == ["delta.clustering"]
        clean_log(t)
        assert delta_domain_metadata(t) == {
            "delta.clustering": '{"cols":["k"]}'
        }
        assert read_delta(spark, t).count() == 2

    def test_vacuum_gate_on_unknown_writer_feature(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import vacuum_delta, write_delta

        t = str(tmp_path / "tbl")
        write_delta(spark.createDataFrame([(1, "a")], "k long, v string"), t)
        with open(os.path.join(t, "_delta_log", f"{1:020d}.json"), "w") as f:
            f.write(json.dumps({"protocol": {
                "minReaderVersion": 1, "minWriterVersion": 7,
                "writerFeatures": ["icebergCompatV2"],
            }}) + "\n")
        with pytest.raises(ValueError, match="writerFeatures"):
            vacuum_delta(t, min_file_age_seconds=0)


class TestInCommitTimestamps:
    """inCommitTimestamp (the in-commit-timestamps table feature):
    timestamp resolution prefers it over commitInfo.timestamp and file
    mtimes everywhere (history, timestampAsOf, streaming
    startingTimestamp all share the same readers), and once the chain
    starts, every commit this engine publishes continues it
    monotonically — even when the wall clock is BEHIND the previous
    commit's stamp."""

    _FAR = 4_102_444_800_000  # ~year 2100, safely past any test clock

    def _mk_ict(self, spark, t):
        from marketdb_spark.sources.deltalog import write_delta

        write_delta(spark.createDataFrame([(1, "a")], "k long, v string"), t)
        with open(os.path.join(t, "_delta_log", f"{1:020d}.json"), "w") as f:
            f.write(json.dumps({"protocol": {
                "minReaderVersion": 1, "minWriterVersion": 7,
                "writerFeatures": ["inCommitTimestamp"],
            }}) + "\n")
            f.write(json.dumps({"commitInfo": {
                "operation": "SET TBLPROPERTIES", "timestamp": 1000,
                "inCommitTimestamp": self._FAR,
            }}) + "\n")

    def test_resolution_and_monotone_continuation(self, spark, tmp_path):
        from marketdb_spark.sources.deltadml import delete_delta
        from marketdb_spark.sources.deltalog import (
            delta_history,
            delta_version_at,
            read_delta,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        self._mk_ict(spark, t)
        # the ict feature is a granted writer feature: appends work,
        # and the new commit's stamp is prev+1 (clock is behind FAR)
        write_delta(spark.createDataFrame([(2, "b")], "k long, v string"), t)
        hist = delta_history(t)
        assert hist[0]["timestamp"] == self._FAR + 1
        assert hist[1]["timestamp"] == self._FAR
        # DML commits continue the chain through the same choke point
        delete_delta(spark, t, "k = 1")
        assert delta_history(t)[0]["timestamp"] == self._FAR + 2
        # timestampAsOf resolves by ict, never mtime (files were written
        # 'now', decades before FAR)
        assert delta_version_at(t, self._FAR) == 1
        assert delta_version_at(t, self._FAR + 1) == 2
        assert delta_version_at(t, self._FAR + 9) == 3
        assert read_delta(spark, t).count() == 1

    def test_chain_survives_checkpoint_and_log_cleanup(
        self, spark, tmp_path
    ):
        """The writer obligation ("every commit after enablement carries
        a stamp") must not lapse when write_checkpoint + clean_log remove
        every prior JSON commit: the gate reads the CHECKPOINTED table
        state (the inCommitTimestamp writer feature), and the chain
        restarts from the wall clock — delta tolerates that after
        retention; a MISSING stamp it treats as corruption."""
        from marketdb_spark.sources.deltalog import (
            clean_log,
            write_checkpoint,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        self._mk_ict(spark, t)
        write_delta(spark.createDataFrame([(2, "b")], "k long, v string"), t)
        assert write_checkpoint(t) == 2
        removed = clean_log(t)
        assert removed  # all JSON commits below the checkpoint are gone
        write_delta(spark.createDataFrame([(3, "c")], "k long, v string"), t)
        with open(os.path.join(t, "_delta_log", f"{3:020d}.json")) as f:
            [info] = [
                json.loads(l)["commitInfo"] for l in f if "commitInfo" in l
            ]
        assert info.get("inCommitTimestamp") is not None
        # wall-clock restart: a fresh epoch-ms stamp, not a stale replay
        assert info["inCommitTimestamp"] > 1_600_000_000_000

    def test_classic_tables_unaffected(self, spark, tmp_path):
        """Without the feature, commits carry no inCommitTimestamp and
        resolution keeps the classic commitInfo.timestamp path."""
        from marketdb_spark.sources.deltalog import (
            delta_history,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        write_delta(spark.createDataFrame([(1, "a")], "k long, v string"), t)
        write_delta(spark.createDataFrame([(2, "b")], "k long, v string"), t)
        with open(os.path.join(t, "_delta_log", f"{1:020d}.json")) as f:
            infos = [
                json.loads(l)["commitInfo"] for l in f if "commitInfo" in l
            ]
        assert infos and "inCommitTimestamp" not in infos[0]
        assert all(h["timestamp"] is not None for h in delta_history(t))


class TestTypeWidening:
    """typeWidening table feature: files written BEFORE an ALTER COLUMN
    TYPE widening keep the narrower physical type; the batch reader
    promotes them natively (Spark 4 parquet readers) and the streaming
    lane casts per column. The writer grant is vacuous — this engine
    never changes types — so appends with the WIDE schema keep
    working."""

    def test_widened_table_reads_appends_and_streams(
        self, spark, tmp_path
    ):
        from marketdb_spark.sources.deltalog import (
            delta_features,
            read_delta,
            write_delta,
        )
        from marketdb_spark.streaming.deltasource import read_delta_stream

        t = str(tmp_path / "tbl")
        write_delta(
            spark.createDataFrame(
                [(1, 1.5, Decimal("1.10")), (2, 2.5, Decimal("2.20"))],
                "k int, x float, d decimal(5,2)",
            ),
            t,
        )
        wide = spark.createDataFrame(
            [(3, 3.5, Decimal("12345678.30"))],
            "k long, x double, d decimal(10,2)",
        ).schema.json()
        with open(os.path.join(t, "_delta_log", f"{0:020d}.json")) as f:
            md = next(
                json.loads(l)["metaData"] for l in f if "metaData" in l
            )
        md["schemaString"] = wide
        with open(
            os.path.join(t, "_delta_log", f"{1:020d}.json"), "w"
        ) as f:
            f.write(json.dumps({"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": ["typeWidening"],
                "writerFeatures": ["typeWidening"],
            }}) + "\n")
            f.write(json.dumps({"metaData": md}) + "\n")
        assert delta_features(t)["unsupported"] == []
        back = read_delta(spark, t)
        assert dict(back.dtypes) == {
            "k": "bigint", "x": "double", "d": "decimal(10,2)",
        }
        assert sorted((r.k, r.x, str(r.d)) for r in back.collect()) == [
            (1, 1.5, "1.10"), (2, 2.5, "2.20"),
        ]
        # appends with the WIDE schema work (the writer never widens,
        # it only matches the current schema)
        write_delta(
            spark.createDataFrame(
                [(3, 3.5, Decimal("12345678.30"))],
                "k long, x double, d decimal(10,2)",
            ),
            t,
        )
        assert read_delta(spark, t).count() == 3
        # the stream promotes pre-widening files per column
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        q = (
            read_delta_stream(spark, t)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = sorted(
            (r.k, r.x, str(r.d))
            for r in spark.read.parquet(out).collect()
        )
        assert got == [
            (1, 1.5, "1.10"), (2, 2.5, "2.20"), (3, 3.5, "12345678.30"),
        ]


class TestDeltaTimestampNtz:
    """timestampNtz table feature: create-time protocol emission,
    round trip, the feature-blind-writer guard, and the streaming leg
    (TIMESTAMP_NTZ is a native Spark type; parquet stores INT64
    isAdjustedToUTC=false, so no session-TZ shift in either lane)."""

    def _ntz_df(self, spark, n=3):
        from pyspark.sql import functions as F

        return spark.range(n).select(
            "id",
            F.expr(
                "timestamp_ntz'2026-03-01 12:00:00' + "
                "make_interval(0, 0, 0, 0, CAST(id AS INT), 0, 0)"
            ).alias("ts"),
        )

    def test_create_roundtrip_and_features(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import (
            delta_features,
            read_delta,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        write_delta(self._ntz_df(spark), t)
        with open(os.path.join(t, "_delta_log", f"{0:020d}.json")) as f:
            [proto] = [
                json.loads(l)["protocol"] for l in f if "protocol" in l
            ]
        assert proto == {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["timestampNtz"],
            "writerFeatures": ["timestampNtz"],
        }
        back = read_delta(spark, t)
        assert dict(back.dtypes)["ts"] == "timestamp_ntz"
        assert back.count() == 3
        feats = delta_features(t)
        assert feats["streamable"] and feats["unsupported"] == []
        # appends compose (protocol already granted)
        write_delta(self._ntz_df(spark), t)
        assert read_delta(spark, t).count() == 6

    def test_ntz_composes_with_cdf_and_mapping(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import read_delta, write_delta

        t = str(tmp_path / "tbl")
        write_delta(
            self._ntz_df(spark), t, enable_cdf=True, column_mapping="name"
        )
        with open(os.path.join(t, "_delta_log", f"{0:020d}.json")) as f:
            [proto] = [
                json.loads(l)["protocol"] for l in f if "protocol" in l
            ]
        assert proto["readerFeatures"] == ["columnMapping", "timestampNtz"]
        assert proto["writerFeatures"] == [
            "changeDataFeed", "columnMapping", "timestampNtz",
        ]
        assert read_delta(spark, t).count() == 3

    def test_ntz_into_undeclared_table_raises(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import write_delta

        t = str(tmp_path / "tbl")
        write_delta(spark.range(2).select("id"), t)
        with pytest.raises(ValueError, match="timestampNtz"):
            write_delta(self._ntz_df(spark), t, merge_schema=True)
        with pytest.raises(ValueError, match="timestampNtz"):
            write_delta(self._ntz_df(spark), t, mode="overwrite")

    def test_ntz_table_streams(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import read_delta, write_delta
        from marketdb_spark.streaming.deltasource import read_delta_stream

        t = str(tmp_path / "tbl")
        write_delta(self._ntz_df(spark), t)
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        stream = read_delta_stream(spark, t)
        assert dict(stream.dtypes)["ts"] == "timestamp_ntz"
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = sorted(str(r.ts) for r in spark.read.parquet(out).collect())
        want = sorted(str(r.ts) for r in read_delta(spark, t).collect())
        assert got == want and len(got) == 3


class TestDeltaOptimize:
    """OPTIMIZE / small-file compaction (sources/deltalog.optimize_delta):
    remove+add with dataChange:false, live set shrinks, rows and history
    don't change."""

    def _table(self, spark, tmp_path, partitioned=True):
        from marketdb_spark.sources.deltalog import write_delta

        t = str(tmp_path / "tbl")
        schema = "k long, v string, p string"
        batches = [
            [(1, "a", "x"), (2, "b", "y")],
            [(3, "c", "x")],
            [(4, "d", "x"), (5, "e", "y")],
        ]
        for i, rows in enumerate(batches):
            write_delta(
                spark.createDataFrame(rows, schema).coalesce(1),
                t,
                partition_by=["p"] if (partitioned and i == 0) else None,
            )
        return t

    def test_compacts_to_one_file_per_partition(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import (
            delta_live_files,
            optimize_delta,
            read_delta,
        )

        t = self._table(spark, tmp_path)
        before = delta_live_files(t)
        assert len(before) == 5  # x: 3 appends, y: 2 (batch 1 skips y)
        assert optimize_delta(spark, t) == 3
        after = delta_live_files(t)
        assert len(after) == 2 and not (set(after) & set(before))
        got = sorted(tuple(r) for r in read_delta(spark, t).collect())
        assert got == [
            (1, "a", "x"), (2, "b", "y"), (3, "c", "x"),
            (4, "d", "x"), (5, "e", "y"),
        ]
        # history intact: the pre-optimize version still replays its
        # own multi-file set (optimize never deletes bytes)
        assert delta_live_files(t, version=2) == before
        assert read_delta(spark, t, version=2).count() == 5

    def test_zorder_clusters_rows(self, spark, tmp_path):
        """OPTIMIZE ZORDER BY: every partition rewrites into one file
        with rows Morton-clustered on the named columns — adjacent rows
        are close in x (data-skipping's precondition), the row multiset
        is unchanged, commitInfo records zOrderBy, and the commit stays
        dataChange:false (a tailing stream skips it). Guards: partition
        or unknown columns refuse."""
        import random
        import statistics

        from marketdb_spark.sources.deltalog import (
            delta_history,
            delta_live_files,
            optimize_delta,
            read_delta,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        rng = random.Random(3)
        rows = [
            (rng.randrange(1000), rng.randrange(1000), i)
            for i in range(4000)
        ]
        df = spark.createDataFrame(rows, "x long, y long, id long")
        write_delta(df.repartition(6), t)
        assert len(delta_live_files(t)) == 6
        v = optimize_delta(spark, t, zorder_by=["x", "y"])
        assert v == 1 and len(delta_live_files(t)) == 1
        got = sorted(tuple(r) for r in read_delta(spark, t).collect())
        assert got == sorted(rows)
        # clustering evidence: mean adjacent |Δx| in FILE ORDER is far
        # below the ~333 uniform-random baseline
        import pyarrow.parquet as pq

        data = pq.read_table(
            os.path.join(t, delta_live_files(t)[0])
        ).to_pylist()
        dx = statistics.mean(
            abs(data[i + 1]["x"] - data[i]["x"])
            for i in range(len(data) - 1)
        )
        assert dx < 80, dx
        hist = delta_history(t)[0]
        assert hist["operationParameters"]["zOrderBy"] == '["x", "y"]'
        with pytest.raises(ValueError, match="non-partition data"):
            optimize_delta(spark, t, zorder_by=["nope"])

    def test_commit_actions_carry_datachange_false(self, spark, tmp_path):
        import json as _json

        from marketdb_spark.sources.deltalog import optimize_delta

        t = self._table(spark, tmp_path)
        v = optimize_delta(spark, t)
        with open(os.path.join(t, "_delta_log", f"{v:020d}.json")) as f:
            actions = [_json.loads(line) for line in f if line.strip()]
        adds = [a["add"] for a in actions if "add" in a]
        removes = [a["remove"] for a in actions if "remove" in a]
        assert len(adds) == 2 and len(removes) == 5
        assert all(a["dataChange"] is False for a in adds)
        assert all(r["dataChange"] is False for r in removes)
        assert {tuple(sorted(a["partitionValues"].items())) for a in adds} == {
            (("p", "x"),), (("p", "y"),)
        }

    def test_noop_when_already_compact(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import (
            delta_versions,
            optimize_delta,
        )

        t = self._table(spark, tmp_path)
        assert optimize_delta(spark, t) == 3
        # second pass: everything is one-file-per-partition → no commit
        assert optimize_delta(spark, t) is None
        assert delta_versions(t)[-1] == 3

    def test_unpartitioned_and_min_files(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import (
            delta_live_files,
            optimize_delta,
            read_delta,
        )

        t = self._table(spark, tmp_path, partitioned=False)
        assert len(delta_live_files(t)) == 3
        # min_files above the file count → nothing loose enough
        assert optimize_delta(spark, t, min_files=4) is None
        assert optimize_delta(spark, t) == 3
        assert len(delta_live_files(t)) == 1
        assert read_delta(spark, t).count() == 5

    def test_survives_checkpoint_and_composes_with_writes(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import (
            clean_log,
            delta_live_files,
            optimize_delta,
            read_delta,
            write_checkpoint,
            write_delta,
        )

        t = self._table(spark, tmp_path)
        assert optimize_delta(spark, t) == 3
        assert write_checkpoint(t) == 3
        clean_log(t)
        # append after optimize+retention; next optimize folds the new
        # loose file back in
        write_delta(
            spark.createDataFrame(
                [(6, "f", "x")], "k long, v string, p string"
            ).coalesce(1),
            t,
        )
        assert len(delta_live_files(t)) == 3  # x: 2 files, y: 1
        assert optimize_delta(spark, t) == 5
        assert len(delta_live_files(t)) == 2
        assert read_delta(spark, t).count() == 6

    def test_stale_optimize_raises_not_corrupts(self, spark, tmp_path, monkeypatch):
        """A concurrent OVERWRITE between the optimize's replay and its
        commit removes the files it rewrote: the commit loop must detect
        the stale live set, unstage, and raise CommitConflict — never
        commit adds for rows that are no longer the table's contents."""
        import marketdb_spark.sources.deltalog as dl
        from marketdb_spark.sources.snapshot import CommitConflict

        t = self._table(spark, tmp_path)
        real_log_entries = dl._log_entries
        calls = {"n": 0}

        def hijack(table):
            # call 1 is optimize's initial replay; call 2 is the commit
            # loop's listing — sneak the overwrite in just before it
            calls["n"] += 1
            if calls["n"] == 2:
                dl.write_delta(
                    spark.createDataFrame(
                        [(9, "z", "x")], "k long, v string, p string"
                    ),
                    t,
                    mode="overwrite",
                )
            return real_log_entries(table)

        monkeypatch.setattr(dl, "_log_entries", hijack)
        with pytest.raises(CommitConflict, match="stale"):
            dl.optimize_delta(spark, t)
        monkeypatch.undo()
        # table is exactly the overwrite; no orphan staged parquet
        got = [tuple(r) for r in dl.read_delta(spark, t).collect()]
        assert got == [(9, "z", "x")]
        live = set(dl.delta_live_files(t))
        on_disk = set()
        for root, _dirs, files in os.walk(t):
            for f in files:
                if f.endswith(".parquet") and "_delta_log" not in root:
                    rel = os.path.relpath(os.path.join(root, f), t)
                    on_disk.add(rel)
        # every non-live parquet on disk belongs to a PRIOR version
        # (history), never to the failed optimize
        import json as _json

        historical = set()
        for v in dl.delta_versions(t):
            historical |= set(dl.delta_live_files(t, version=v))
        assert on_disk == live | historical


class TestDeltaVacuum:
    """vacuum_delta (sources/deltalog.py): physical reclamation of
    files outside the current live set, behind the retention age gate."""

    def test_age_gate_protects_young_files(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import (
            delta_live_files,
            vacuum_delta,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        df = spark.createDataFrame([(1, "a")], "k long, v string")
        write_delta(df, t)
        doomed = set(delta_live_files(t))
        write_delta(df, t, mode="overwrite")  # v0's files are now dead
        assert vacuum_delta(t) == []  # younger than the 1h default
        assert set(vacuum_delta(t, min_file_age_seconds=0, dry_run=True)) == doomed

    def test_vacuum_never_touches_live_files_and_cleans_dirs(self, spark, tmp_path):
        import os as _os

        from marketdb_spark.sources.deltalog import (
            delta_live_files,
            read_delta,
            vacuum_delta,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        schema = "k long, v string, p string"
        write_delta(
            spark.createDataFrame([(1, "a", "x"), (2, "b", "y")], schema),
            t,
            partition_by=["p"],
        )
        # overwrite drops partition y entirely: its file AND dir must go
        write_delta(
            spark.createDataFrame([(1, "a", "x")], schema), t, mode="overwrite"
        )
        gone = vacuum_delta(t, min_file_age_seconds=0)
        assert gone and all(g.startswith(("p=x", "p=y")) for g in gone)
        assert not _os.path.isdir(_os.path.join(t, "p=y"))
        assert vacuum_delta(t, min_file_age_seconds=0) == []  # idempotent
        live = delta_live_files(t)
        assert all(_os.path.exists(_os.path.join(t, p)) for p in live)
        assert [tuple(r) for r in read_delta(spark, t).collect()] == [
            (1, "a", "x")
        ]

    def test_time_travel_to_vacuumed_version_fails_at_scan(self, spark, tmp_path):
        import pytest as _pytest

        from marketdb_spark.sources.deltalog import (
            read_delta,
            vacuum_delta,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        df = spark.createDataFrame([(1, "a")], "k long, v string")
        write_delta(df, t)
        write_delta(
            spark.createDataFrame([(2, "b")], "k long, v string"),
            t,
            mode="overwrite",
        )
        vacuum_delta(t, min_file_age_seconds=0)
        assert [tuple(r) for r in read_delta(spark, t).collect()] == [(2, "b")]
        with _pytest.raises(Exception):  # replay resolves, scan fails
            read_delta(spark, t, version=0).collect()


class TestWriterProtocolGate:
    """_check_writer_protocol — the writer-side mirror of the reader gate
    (PROTOCOL.md "Table Features" / "Writer Version Requirements"):
    unknown writerFeatures, generated / identity columns, and appendOnly
    block writes BEFORE a commit could violate obligations other readers
    rely on; CHECK constraints and column invariants are ENFORCED
    row-by-row instead (the writer v2/v3 obligation) — valid batches
    commit, violating batches raise naming the constraint."""

    def _mk(self, spark, t):
        from marketdb_spark.sources.deltalog import write_delta

        write_delta(
            spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
            t,
        )

    def _add_commit(self, t, actions):
        from marketdb_spark.sources.deltalog import _log_entries

        v = _log_entries(t)[-1][0] + 1
        with open(
            os.path.join(t, "_delta_log", f"{v:020d}.json"), "w"
        ) as f:
            for a in actions:
                f.write(json.dumps(a) + "\n")

    def _meta(self, t, config=None, schema_json=None):
        """A metaData re-emit copied from v0 with overrides."""
        with open(os.path.join(t, "_delta_log", f"{0:020d}.json")) as f:
            md = next(
                json.loads(l)["metaData"]
                for l in f
                if l.strip() and "metaData" in json.loads(l)
            )
        if config is not None:
            md["configuration"] = {**md.get("configuration", {}), **config}
        if schema_json is not None:
            md["schemaString"] = schema_json
        return {"metaData": md}

    def test_unknown_writer_feature_blocks_all_writes(self, spark, tmp_path):
        from marketdb_spark.sources.deltadml import delete_delta
        from marketdb_spark.sources.deltalog import read_delta, write_delta

        t = str(tmp_path / "tbl")
        self._mk(spark, t)
        self._add_commit(
            t,
            [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 7,
                           "writerFeatures": ["icebergCompatV2"]}}],
        )
        df = spark.createDataFrame([(3, "c")], "k long, v string")
        with pytest.raises(ValueError, match="writerFeatures.*icebergCompatV2"):
            write_delta(df, t)
        with pytest.raises(ValueError, match="writerFeatures"):
            delete_delta(spark, t, "k = 1")
        # reading stays fine: the gate is writer-side only
        assert read_delta(spark, t).count() == 2

    def test_v7_without_features_is_malformed(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import write_delta

        t = str(tmp_path / "tbl")
        self._mk(spark, t)
        self._add_commit(
            t, [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 7}}]
        )
        with pytest.raises(ValueError, match="without writerFeatures"):
            write_delta(
                spark.createDataFrame([(3, "c")], "k long, v string"), t
            )

    def test_benign_v7_features_pass(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import read_delta, write_delta

        t = str(tmp_path / "tbl")
        self._mk(spark, t)
        # delta-spark emits e.g. invariants/appendOnly as feature NAMES
        # even when no invariant is defined — that must keep writing
        self._add_commit(
            t,
            [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 7,
                           "writerFeatures": ["appendOnly", "invariants"]}}],
        )
        write_delta(spark.createDataFrame([(3, "c")], "k long, v string"), t)
        assert read_delta(spark, t).count() == 3

    def test_append_only_blocks_data_removal_not_appends(
        self, spark, tmp_path
    ):
        from marketdb_spark.sources.deltadml import (
            delete_delta,
            merge_delta,
            update_delta,
        )
        from marketdb_spark.sources.deltalog import read_delta, write_delta

        t = str(tmp_path / "tbl")
        self._mk(spark, t)
        self._add_commit(t, [self._meta(t, config={"delta.appendOnly": "true"})])
        df = spark.createDataFrame([(3, "c")], "k long, v string")
        write_delta(df, t)  # appends still fine
        assert read_delta(spark, t).count() == 3
        with pytest.raises(ValueError, match="append-only"):
            write_delta(df, t, mode="overwrite")
        with pytest.raises(ValueError, match="append-only"):
            delete_delta(spark, t, "k = 1")
        with pytest.raises(ValueError, match="append-only"):
            update_delta(spark, t, "k = 1", {"v": "'z'"})
        # insert-only MERGE removes no file → allowed (delta-spark parity)
        src = spark.createDataFrame([(9, "i")], "k long, v string")
        assert (
            merge_delta(spark, t, src, ["k"], when_matched=None) is not None
        )
        assert read_delta(spark, t).count() == 4

    def test_check_constraint_enforced(self, spark, tmp_path):
        """A defined CHECK constraint no longer blocks the writer — it
        is ENFORCED: valid rows commit, a violating batch raises naming
        the constraint and a violating row, NULL violates too
        (delta-spark's CheckDeltaInvariant requires the expression to
        evaluate to TRUE, stricter than SQL CHECK), and DML rewrites
        are held to the same rule."""
        from marketdb_spark.sources.deltadml import update_delta
        from marketdb_spark.sources.deltalog import read_delta, write_delta

        t = str(tmp_path / "tbl")
        self._mk(spark, t)
        self._add_commit(
            t,
            [self._meta(t, config={"delta.constraints.positive": "k > 0"})],
        )
        write_delta(
            spark.createDataFrame([(3, "c")], "k long, v string"), t
        )
        with pytest.raises(ValueError, match="CHECK constraint positive"):
            write_delta(
                spark.createDataFrame([(-3, "x")], "k long, v string"), t
            )
        # NULL violates too: PROTOCOL.md requires the expression to
        # evaluate to TRUE and delta-spark rejects NULL results — a
        # batch this writer accepted but delta-spark would refuse is
        # exactly the cross-tool divergence the gate exists to prevent
        with pytest.raises(ValueError, match="CHECK constraint positive"):
            write_delta(
                spark.createDataFrame([(None, "n")], "k long, v string"), t
            )
        with pytest.raises(ValueError, match="CHECK constraint positive"):
            update_delta(spark, t, "v = 'a'", {"k": "-9"})
        update_delta(spark, t, "v = 'a'", {"k": "10"})
        got = {r.v: r.k for r in read_delta(spark, t).collect()}
        assert got["a"] == 10 and got["c"] == 3 and "n" not in got

    def test_invariant_enforced(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import read_delta, write_delta

        t = str(tmp_path / "tbl")
        self._mk(spark, t)
        schema = {
            "type": "struct",
            "fields": [
                {"name": "k", "type": "long", "nullable": True,
                 "metadata": {"delta.invariants":
                              '{"expression":{"expression":"k > 0"}}'}},
                {"name": "v", "type": "string", "nullable": True,
                 "metadata": {}},
            ],
        }
        self._add_commit(t, [self._meta(t, schema_json=json.dumps(schema))])
        write_delta(
            spark.createDataFrame([(3, "c")], "k long, v string"), t
        )
        with pytest.raises(ValueError, match="invariant on column k"):
            write_delta(
                spark.createDataFrame([(0, "x")], "k long, v string"), t
            )
        assert read_delta(spark, t).count() == 3

    def test_generated_column_validated(self, spark, tmp_path):
        """Generated columns: a supplied value equal to the generation
        expression commits (delta validates the same when the column is
        provided explicitly); a mismatch raises naming the column. The
        equality is null-safe."""
        from marketdb_spark.sources.deltalog import read_delta, write_delta

        t = str(tmp_path / "tbl")
        self._mk(spark, t)
        schema = {
            "type": "struct",
            "fields": [
                {"name": "k", "type": "long", "nullable": True,
                 "metadata": {}},
                {"name": "v", "type": "string", "nullable": True,
                 "metadata": {
                     "delta.generationExpression": "concat('u', k)"}},
            ],
        }
        self._add_commit(t, [self._meta(t, schema_json=json.dumps(schema))])
        write_delta(
            spark.createDataFrame([(3, "u3")], "k long, v string"), t
        )
        with pytest.raises(ValueError, match="generation expression"):
            write_delta(
                spark.createDataFrame([(4, "WRONG")], "k long, v string"), t
            )
        assert read_delta(spark, t).count() == 3

    def test_row_tracking_obligations(self, spark, tmp_path):
        """rowTracking (writer v7): every new add carries a fresh
        baseRowId above the delta.rowTracking domain's
        rowIdHighWaterMark plus defaultRowCommitVersion, the domain
        re-emits with the bumped mark (and survives checkpoint +
        clean_log), tombstones carry the removed add's fields, DML on a
        SUPPORTED (not enabled) table allocates fresh ids for its
        rewrites — and delta.enableRowTracking=true (STABLE ids) makes
        data-removing ops refuse by name while appends keep working."""
        from marketdb_spark.sources.deltadml import delete_delta
        from marketdb_spark.sources.deltalog import (
            _replay,
            clean_log,
            write_checkpoint,
            write_delta,
        )

        def commit_actions(t, v):
            with open(
                os.path.join(t, "_delta_log", f"{v:020d}.json")
            ) as f:
                return [json.loads(l) for l in f if l.strip()]

        t = str(tmp_path / "tbl")
        self._mk(spark, t)
        # captured before clean_log removes v0 (the enabled-flip below
        # re-emits it with the config override)
        base_meta = self._meta(t)
        self._add_commit(
            t,
            [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 7,
                           "writerFeatures": [
                               "domainMetadata", "rowTracking",
                           ]}}],
        )
        write_delta(
            spark.createDataFrame(
                [(3, "c"), (4, "d"), (5, "e")], "k long, v string"
            ),
            t,
        )
        acts = commit_actions(t, 2)
        adds = [a["add"] for a in acts if "add" in a]
        assert adds and all(
            a.get("baseRowId") is not None
            and a["defaultRowCommitVersion"] == 2
            for a in adds
        )
        assert min(a["baseRowId"] for a in adds) == 0  # fresh table: ids from 0
        [dom] = [
            a["domainMetadata"] for a in acts if "domainMetadata" in a
        ]
        hwm = json.loads(dom["configuration"])["rowIdHighWaterMark"]
        assert hwm == 2  # 3 staged rows → ids 0..2 across the files
        # next append continues ABOVE the mark
        write_delta(spark.createDataFrame([(6, "f")], "k long, v string"), t)
        adds3 = [
            a["add"] for a in commit_actions(t, 3) if "add" in a
        ]
        assert min(a["baseRowId"] for a in adds3) == hwm + 1
        # DML on supported-not-enabled: rewrites get fresh ids, the
        # tombstone carries the removed add's fields
        delete_delta(spark, t, "k = 3")
        acts4 = commit_actions(t, 4)
        rms = [a["remove"] for a in acts4 if "remove" in a]
        assert any(r.get("baseRowId") is not None for r in rms)
        adds4 = [a["add"] for a in acts4 if "add" in a]
        assert all(a["baseRowId"] > hwm for a in adds4)
        # the mark survives checkpoint + clean_log
        v = write_checkpoint(t)
        clean_log(t)
        snap = _replay(t, None)
        assert snap.row_meta  # checkpoint re-emitted the fields
        mark = json.loads(
            snap.domains["delta.rowTracking"]["configuration"]
        )["rowIdHighWaterMark"]
        write_delta(spark.createDataFrame([(7, "g")], "k long, v string"), t)
        adds5 = [
            a["add"] for a in commit_actions(t, v + 1) if "add" in a
        ]
        assert min(a["baseRowId"] for a in adds5) == mark + 1
        # enabled (STABLE ids): DML preserves ids via materialized
        # columns (r13) — a table enabled WITHOUT assigned column names
        # gets them lazily, re-emitted in the DML's own commit
        flip = {
            "metaData": {
                **base_meta["metaData"],
                "configuration": {
                    **base_meta["metaData"].get("configuration", {}),
                    "delta.enableRowTracking": "true",
                },
            }
        }
        self._add_commit(t, [flip])
        from marketdb_spark.sources.deltalog import _materialized_rt_cols

        assert _materialized_rt_cols(_replay(t, None)) is None
        # a KNOWN two-row file, so the delete leaves a survivor whose
        # id must be materialized through the rewrite (a full-file
        # delete would legitimately skip the lazy name assignment)
        write_delta(
            spark.createDataFrame(
                [(20, "t"), (21, "u")], "k long, v string"
            ).coalesce(1),
            t,
        )
        assert delete_delta(spark, t, "k = 20") is not None
        snap2 = _replay(t, None)
        cols = _materialized_rt_cols(snap2)
        assert cols is not None  # lazy assignment landed in metaData
        from marketdb_spark.sources.deltadml import _scan_with_row_ids

        got = {
            r.k: r[cols[0]]
            for r in _scan_with_row_ids(
                spark, t, snap2, snap2.live, *cols
            ).collect()
        }
        # deleted row gone; rows born under the feature keep distinct
        # ids (pre-feature files carry none — delta-spark backfills on
        # enable, which this mid-life config flip never ran)
        assert 20 not in got and 21 in got
        with_ids = [v for v in got.values() if v is not None]
        assert with_ids and len(with_ids) == len(set(with_ids))
        write_delta(spark.createDataFrame([(8, "h")], "k long, v string"), t)

    @staticmethod
    def _ident_schema(start, step, allow, hwm=None):
        md = {
            "delta.identity.start": start,
            "delta.identity.step": step,
            "delta.identity.allowExplicitInsert": allow,
        }
        if hwm is not None:
            md["delta.identity.highWaterMark"] = hwm
        return json.dumps({
            "type": "struct",
            "fields": [
                {"name": "k", "type": "long", "nullable": True,
                 "metadata": md},
                {"name": "v", "type": "string", "nullable": True,
                 "metadata": {}},
            ],
        })

    def test_identity_generated_always(self, spark, tmp_path):
        """GENERATED ALWAYS identity (allowExplicitInsert=false): an
        omitted column allocates hwm+step per row and re-emits the high
        water mark in metaData (the next write continues from it);
        explicit values refuse; UPDATE/MERGE shapes that would mint
        values refuse by name."""
        from marketdb_spark.sources.deltadml import (
            merge_delta,
            update_delta,
        )
        from marketdb_spark.sources.deltalog import read_delta, write_delta

        t = str(tmp_path / "tbl")
        self._mk(spark, t)
        self._add_commit(
            t,
            [self._meta(
                t, schema_json=self._ident_schema(1, 1, False, hwm=2)
            )],
        )
        write_delta(spark.createDataFrame([("c",)], "v string"), t)
        write_delta(spark.createDataFrame([("d",), ("e",)], "v string"), t)
        got = {r.v: r.k for r in read_delta(spark, t).collect()}
        assert got["c"] == 3 and sorted(
            (got["d"], got["e"])
        ) == [4, 5]
        # the mark was re-emitted and picked back up (4,5 not 4,4)
        with pytest.raises(ValueError, match="GENERATED ALWAYS"):
            write_delta(
                spark.createDataFrame([(9, "x")], "k long, v string"), t
            )
        with pytest.raises(ValueError, match="identity column"):
            update_delta(spark, t, "v = 'c'", {"k": "99"})
        src = spark.createDataFrame([("zz",)], "v string")
        with pytest.raises(ValueError, match="high-water-mark"):
            merge_delta(spark, t, src, ["v"])
        # matched-only merges rewrite existing values: allowed
        src2 = spark.createDataFrame([("c",)], "v string")
        assert (
            merge_delta(
                spark, t, src2, ["v"],
                when_matched={"v": "upper(tgt.v)"},
                when_not_matched=None,
            )
            is not None
        )

    def test_identity_explicit_and_descending(self, spark, tmp_path):
        """allowExplicitInsert=true admits supplied values and pushes
        the mark OUTWARD (never inward); omitted columns continue from
        the pushed mark; a descending sequence (negative step) tracks
        the MINIMUM."""
        from marketdb_spark.sources.deltalog import read_delta, write_delta

        t = str(tmp_path / "tbl")
        self._mk(spark, t)
        self._add_commit(
            t, [self._meta(t, schema_json=self._ident_schema(5, 5, True))]
        )
        write_delta(
            spark.createDataFrame([(12, "x")], "k long, v string"), t
        )
        write_delta(spark.createDataFrame([("y",)], "v string"), t)
        got = {r.v: r.k for r in read_delta(spark, t).collect()}
        assert got["x"] == 12 and got["y"] == 17  # hwm 12, then +5
        # descending
        t2 = str(tmp_path / "tbl2")
        self._mk(spark, t2)
        self._add_commit(
            t2,
            [self._meta(t2, schema_json=self._ident_schema(100, -2, False))],
        )
        write_delta(spark.createDataFrame([("a2",)], "v string"), t2)
        write_delta(spark.createDataFrame([("b2",)], "v string"), t2)
        got2 = {r.v: r.k for r in read_delta(spark, t2).collect()}
        assert got2["a2"] == 100 and got2["b2"] == 98


class TestAdviceRegressions:
    """Round-11 regressions for the r10 ADVICE findings."""

    def test_cdf_overwrite_schema_change_records_new_columns(
        self, spark, tmp_path
    ):
        """A schema-changing full overwrite of a CDF table must record
        insert postimages in the BATCH schema — new columns carried,
        not silently dropped (old ADVICE: staged files were read with
        the pre-overwrite snapshot schema)."""
        from marketdb_spark.sources.deltalog import (
            read_change_feed,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        write_delta(
            spark.createDataFrame([(1, "a")], "k long, v string"),
            t,
            enable_cdf=True,
        )
        write_delta(
            spark.createDataFrame([(9, "z", 7.5)], "k long, v string, w double"),
            t,
            mode="overwrite",
        )
        cf = read_change_feed(spark, t, 1, 1)
        rows = {r._change_type: r for r in cf.collect()}
        assert rows["insert"].k == 9 and rows["insert"].w == 7.5
        assert rows["delete"].k == 1 and rows["delete"].w is None

    def test_commit_version_is_long_in_batch_and_stream(
        self, spark, tmp_path
    ):
        from pyspark.sql import types as T

        from marketdb_spark.sources.deltalog import (
            read_change_feed,
            write_delta,
        )
        from marketdb_spark.streaming.deltasource import _CDF_EXTRA_FIELDS

        t = str(tmp_path / "tbl")
        write_delta(
            spark.createDataFrame([(1, "a")], "k long, v string"),
            t,
            enable_cdf=True,
        )
        cf = read_change_feed(spark, t, 0)
        [f] = [f for f in cf.schema.fields if f.name == "_commit_version"]
        assert f.dataType == T.LongType()
        [sf] = [
            f for f in _CDF_EXTRA_FIELDS if f.name == "_commit_version"
        ]
        assert sf.dataType == f.dataType

    def test_nmbs_set_referencing_source_raises(self, spark, tmp_path):
        from marketdb_spark.sources.deltadml import merge_delta
        from marketdb_spark.sources.deltalog import write_delta

        t = str(tmp_path / "tbl")
        write_delta(
            spark.createDataFrame(
                [(1, "a"), (2, "b")], "k long, v string"
            ),
            t,
        )
        src = spark.createDataFrame([(1, "A")], "k long, v string")
        with pytest.raises(ValueError, match="non-target columns"):
            merge_delta(
                spark, t, src, ["k"],
                when_matched="update",
                when_not_matched=None,
                when_not_matched_by_source={"v": "src.v"},
            )
        # target-only expressions still work (tgt-qualified — both sides
        # of the join carry `v`, so unqualified refs are ambiguous there)
        assert merge_delta(
            spark, t, src, ["k"],
            when_matched="update",
            when_not_matched=None,
            when_not_matched_by_source={"v": "upper(tgt.v)"},
        ) is not None

    def test_arrow_rename_preserves_null_maps(self):
        import pyarrow as pa

        from marketdb_spark.streaming.deltasource import _arrow_rename

        src_t = pa.map_(
            pa.string(), pa.struct([pa.field("c_phys", pa.int64())])
        )
        arr = pa.array(
            [{"a": {"c_phys": 1}}, None, {"b": {"c_phys": 2}}], type=src_t
        )
        tgt_t = pa.map_(
            pa.string(), pa.struct([pa.field("c", pa.int64())])
        )
        out = _arrow_rename(arr, tgt_t)
        out.validate(full=True)
        assert out.null_count == 1 and out[1].as_py() is None
        assert out[0].as_py() == [("a", {"c": 1})]
        # sliced input keeps validity aligned
        out2 = _arrow_rename(arr.slice(1), tgt_t)
        out2.validate(full=True)
        assert out2[0].as_py() is None and out2[1].as_py() == [
            ("b", {"c": 2})
        ]


class TestAdviceRegressionsR13:
    """Round-13 regressions for the r12 ADVICE findings."""

    def test_cdf_mapped_evolving_overwrite_postimages(self, spark, tmp_path):
        """A schema-evolving overwrite (mergeSchema) on a COLUMN-MAPPED
        CDF table must stage insert postimages under the EVOLVED mapped
        schema — the new column's values reach the change feed (old
        ADVICE: ins_snap fell back to the pre-evolution snapshot
        whenever the table was mapped, silently dropping them) — and
        the delete preimages keep the old columns."""
        from marketdb_spark.sources.deltalog import (
            read_change_feed,
            read_delta,
            write_delta,
        )

        for mode in ("name", "id"):
            t = str(tmp_path / f"tbl_{mode}")
            write_delta(
                spark.createDataFrame([(1, "a")], "k long, v string"),
                t,
                enable_cdf=True,
                column_mapping=mode,
            )
            write_delta(
                spark.createDataFrame(
                    [(9, "z", 7.5)], "k long, v string, w double"
                ),
                t,
                mode="overwrite",
                merge_schema=True,
            )
            back = read_delta(spark, t)
            assert back.columns == ["k", "v", "w"]
            assert [tuple(r) for r in back.collect()] == [(9, "z", 7.5)]
            cf = read_change_feed(spark, t, 1, 1)
            rows = {r._change_type: r for r in cf.collect()}
            assert rows["insert"].k == 9 and rows["insert"].w == 7.5
            assert rows["delete"].k == 1 and rows["delete"].v == "a"
            assert rows["delete"].w is None

    def test_checkpoint_adds_carry_datachange_false(self, spark, tmp_path):
        """Checkpoint add actions restate state, they don't change it:
        both the classic parquet layout and the v2 JSON layout must
        write dataChange: false so change-only consumers (foreign CDF /
        streaming readers) ignore them (old ADVICE: both wrote true)."""
        import pyarrow.parquet as pq

        from marketdb_spark.sources.deltalog import (
            read_delta,
            write_checkpoint,
            write_delta,
        )

        schema = "k long, v string"
        t = str(tmp_path / "classic")
        write_delta(spark.createDataFrame([(1, "a")], schema), t)
        write_delta(spark.createDataFrame([(2, "b")], schema), t)
        v = write_checkpoint(t)
        rows = pq.read_table(
            os.path.join(t, "_delta_log", f"{v:020d}.checkpoint.parquet")
        ).to_pylist()
        adds = [r["add"] for r in rows if r.get("add")]
        assert adds and all(a["dataChange"] is False for a in adds)
        assert read_delta(spark, t).count() == 2

        t2 = str(tmp_path / "v2")
        write_delta(spark.createDataFrame([(1, "a")], schema), t2)
        with open(
            os.path.join(t2, "_delta_log", f"{1:020d}.json"), "w"
        ) as f:
            f.write(json.dumps({"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": ["v2Checkpoint"],
                "writerFeatures": ["v2Checkpoint"],
            }}) + "\n")
        write_delta(spark.createDataFrame([(2, "b")], schema), t2)
        v2 = write_checkpoint(t2)
        import re

        [ck] = [
            n
            for n in os.listdir(os.path.join(t2, "_delta_log"))
            if re.fullmatch(
                rf"{v2:020d}\.checkpoint\.[0-9a-f\-]{{36}}\.json", n
            )
        ]
        with open(os.path.join(t2, "_delta_log", ck)) as f:
            acts = [json.loads(l) for l in f if l.strip()]
        adds2 = [a["add"] for a in acts if "add" in a]
        assert adds2 and all(a["dataChange"] is False for a in adds2)
        assert read_delta(spark, t2).count() == 2

    def test_dv_staleness_compare_survives_checkpoint_projection(
        self, spark, tmp_path
    ):
        """A classic checkpoint projects DV descriptors to the 5
        protocol fields while JSON replay keeps writer extras
        (uniqueId) — the DML/OPTIMIZE staleness compare must treat both
        shapes of an UNCHANGED DV as equal (old ADVICE: verbatim dict
        compare raised a spurious CommitConflict whenever a checkpoint
        landed between the read and the commit)."""
        from marketdb_spark.sources.deltadv import (
            _commit_dv,
            dv_descriptor_key,
            encode_inline_dv,
        )
        from marketdb_spark.sources.deltalog import (
            _replay,
            clean_log,
            delta_live_files,
            write_checkpoint,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        write_delta(
            spark.createDataFrame(
                [(i, f"v{i}") for i in range(6)], "k long, v string"
            ),
            t,
        )
        rel = sorted(delta_live_files(t))[0]
        desc = encode_inline_dv([0])
        desc["uniqueId"] = "i" + desc["pathOrInlineDv"]  # writer extra
        _commit_dv(t, {rel: desc})
        before = dict(_replay(t, None).dvs)
        assert "uniqueId" in before[rel]
        write_checkpoint(t)
        clean_log(t)
        after = dict(_replay(t, None).dvs)
        assert "uniqueId" not in after[rel]  # checkpoint projected it
        assert before[rel] != after[rel]  # verbatim compare WOULD differ
        assert dv_descriptor_key(before[rel]) == dv_descriptor_key(
            after[rel]
        )
        assert dv_descriptor_key(None) is None


class TestCDFDeletionVectorDiff:
    """read_change_feed derivation for DV-carrying adds (VERDICT r13:
    positions(DV_new) − positions(DV_prev) replayed as row-level
    deletes; shrink and vacuumed-DV guards)."""

    def _mk(self, spark, t, n=10):
        from marketdb_spark.sources.deltalog import (
            delta_live_files,
            write_delta,
        )

        write_delta(
            spark.range(n)
            .selectExpr("id AS k", "CAST(id AS STRING) AS v")
            .coalesce(1)
            .sortWithinPartitions("k"),
            t,
            enable_cdf=True,
        )
        [rel] = delta_live_files(t)
        return rel

    def test_dv_add_derives_row_level_deletes(self, spark, tmp_path):
        """Foreign DV DELETE commits (add(file, DV') + remove(file, DV),
        no cdc) replay as row-level deletes of exactly the newly-vectored
        positions — first commit the whole vector, the growth commit only
        the diff — across inline AND on-disk storage; a fresh file added
        WITH a vector derives as inserts of the file minus it."""
        from marketdb_spark.sources.deltadv import (
            commit_inline_dv,
            commit_ondisk_dv,
        )
        from marketdb_spark.sources.deltalog import (
            read_change_feed,
            read_delta,
        )

        t = str(tmp_path / "tbl")
        rel = self._mk(spark, t)
        commit_inline_dv(t, rel, [1, 4])          # v1: inline
        commit_ondisk_dv(t, {rel: [1, 4, 7]})     # v2: on-disk superset
        cf = read_change_feed(spark, t, 1, 2)
        got = sorted(
            (r.k, r._change_type, r._commit_version) for r in cf.collect()
        )
        assert got == [
            (1, "delete", 1), (4, "delete", 1), (7, "delete", 2),
        ]
        assert sorted(r.k for r in read_delta(spark, t).collect()) == [
            0, 2, 3, 5, 6, 8, 9,
        ]
        # an identical re-add (no growth) contributes no changes
        commit_inline_dv(t, rel, [1, 4, 7])
        assert read_change_feed(spark, t, 3, 3).count() == 0

    def test_fresh_dv_add_derives_inserts_minus_vector(
        self, spark, tmp_path
    ):
        """A file FIRST added with a deletion vector (e.g. a foreign
        writer's copy-with-DV) derives as inserts of its live rows."""
        import shutil

        from marketdb_spark.sources.deltadv import encode_inline_dv
        from marketdb_spark.sources.deltalog import read_change_feed

        t = str(tmp_path / "tbl")
        rel = self._mk(spark, t, n=4)
        # stage a copy of the data file and add it WITH a vector
        rel2 = rel.replace(".parquet", "-copy.parquet")
        shutil.copy(os.path.join(t, rel), os.path.join(t, rel2))
        desc = encode_inline_dv([0, 2])
        with open(
            os.path.join(t, "_delta_log", f"{1:020d}.json"), "w"
        ) as f:
            f.write(json.dumps({"commitInfo": {
                "operation": "WRITE", "timestamp": 1000,
            }}) + "\n")
            f.write(json.dumps({"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors"],
                "writerFeatures": ["deletionVectors"],
            }}) + "\n")
            f.write(json.dumps({"add": {
                "path": rel2, "partitionValues": {},
                "size": os.path.getsize(os.path.join(t, rel2)),
                "modificationTime": 1000, "dataChange": True,
                "deletionVector": desc,
            }}) + "\n")
        cf = read_change_feed(spark, t, 1, 1)
        got = sorted((r.k, r._change_type) for r in cf.collect())
        assert got == [(1, "insert"), (3, "insert")]

    def test_shrinking_vector_raises_by_name(self, spark, tmp_path):
        from marketdb_spark.sources.deltadv import commit_inline_dv
        from marketdb_spark.sources.deltalog import read_change_feed

        t = str(tmp_path / "tbl")
        rel = self._mk(spark, t)
        commit_inline_dv(t, rel, [1, 4])
        commit_inline_dv(t, rel, [4])  # un-delete of row 1
        with pytest.raises(ValueError, match="SHRANK"):
            read_change_feed(spark, t, 2, 2).collect()

    def test_vacuumed_dv_file_raises_by_name(self, spark, tmp_path):
        from marketdb_spark.sources.deltadv import (
            commit_ondisk_dv,
            dv_file_path,
        )
        from marketdb_spark.sources.deltalog import (
            _replay,
            read_change_feed,
        )

        t = str(tmp_path / "tbl")
        rel = self._mk(spark, t)
        commit_ondisk_dv(t, {rel: [2, 5]})
        desc = _replay(t, None).dvs[rel]
        os.remove(dv_file_path(desc, t))
        with pytest.raises(ValueError, match="does not exist"):
            read_change_feed(spark, t, 1, 1).collect()


class TestDVWriteCreation:
    """DML-created deletion vectors (VERDICT r13 item 3: emit a DV
    instead of rewriting the file — metadata-sized commits for small
    deletes; delta-spark's delete/update-with-DV behavior behind
    delta.enableDeletionVectors=true + the declared feature)."""

    def _mk(self, spark, t, n=20, **kw):
        from marketdb_spark.sources.deltalog import (
            delta_live_files,
            write_delta,
        )

        write_delta(
            spark.range(n)
            .selectExpr("id AS k", "CAST(id AS STRING) AS v")
            .coalesce(1)
            .sortWithinPartitions("k"),
            t,
            enable_dvs=True,
            **kw,
        )
        [rel] = delta_live_files(t)
        return rel

    @staticmethod
    def _acts(t, v):
        with open(os.path.join(t, "_delta_log", f"{v:020d}.json")) as f:
            return [json.loads(l) for l in f if l.strip()]

    def test_delete_emits_and_grows_dv(self, spark, tmp_path):
        """DELETE stages add(file, DV) + descriptor-carrying remove in
        ONE commit (no data rewrite); a second DELETE grows the vector
        (union) with the old descriptor riding the tombstone; reads
        apply it; OPTIMIZE purges it; a FULLY-matched file drops as a
        plain remove."""
        from marketdb_spark.sources.deltadml import delete_delta
        from marketdb_spark.sources.deltalog import (
            _replay,
            optimize_delta,
            read_delta,
        )

        t = str(tmp_path / "tbl")
        rel = self._mk(spark, t)
        v = delete_delta(spark, t, "k % 3 = 0")
        acts = self._acts(t, v)
        [add] = [a["add"] for a in acts if "add" in a]
        [rm] = [a["remove"] for a in acts if "remove" in a]
        assert add["path"] == rel and rm["path"] == rel
        assert add["deletionVector"]["storageType"] == "u"
        assert add["deletionVector"]["cardinality"] == 7
        assert "deletionVector" not in rm  # no prior vector
        assert sorted(r.k for r in read_delta(spark, t).collect()) == [
            1, 2, 4, 5, 7, 8, 10, 11, 13, 14, 16, 17, 19,
        ]
        v2 = delete_delta(spark, t, "k = 1")
        acts2 = self._acts(t, v2)
        [add2] = [a["add"] for a in acts2 if "add" in a]
        [rm2] = [a["remove"] for a in acts2 if "remove" in a]
        assert add2["deletionVector"]["cardinality"] == 8  # union
        assert rm2["deletionVector"] == add["deletionVector"]
        assert read_delta(spark, t).count() == 12
        # OPTIMIZE purges: one compacted plain file, no DVs
        optimize_delta(spark, t, min_files=1)
        snap = _replay(t, None)
        assert snap.dvs == {}
        assert read_delta(spark, t).count() == 12
        # a delete matching EVERY remaining row: plain remove, no re-add
        v3 = delete_delta(spark, t, "k >= 0")
        acts3 = self._acts(t, v3)
        assert not [a for a in acts3 if "add" in a]
        assert read_delta(spark, t).count() == 0

    def test_threshold_falls_back_to_rewrite(self, spark, tmp_path):
        from marketdb_spark.sources.deltadml import delete_delta
        from marketdb_spark.sources.deltalog import _replay, read_delta

        t = str(tmp_path / "tbl")
        self._mk(spark, t, n=10)
        v = delete_delta(spark, t, "k = 3", dv_max_fraction=0.0)
        acts = self._acts(t, v)
        adds = [a["add"] for a in acts if "add" in a]
        assert adds and all("deletionVector" not in a for a in adds)
        assert _replay(t, None).dvs == {}
        assert read_delta(spark, t).count() == 9

    def test_update_emits_dv_and_stages_only_updates(
        self, spark, tmp_path
    ):
        """UPDATE on a DV table: the original file re-adds with the
        matched positions vectored and ONLY the transformed rows stage
        as a new file — 4 updated rows of 20 write a 4-row file; CDF
        records the pre/post pairs via cdc."""
        import pyarrow.parquet as pq

        from marketdb_spark.sources.deltadml import update_delta
        from marketdb_spark.sources.deltalog import (
            read_change_feed,
            read_delta,
        )

        t = str(tmp_path / "tbl")
        rel = self._mk(spark, t, enable_cdf=True)
        v = update_delta(spark, t, "k % 5 = 0", {"v": "'UPD'"})
        acts = self._acts(t, v)
        adds = [a["add"] for a in acts if "add" in a]
        assert {a["path"] == rel for a in adds} == {True, False}
        [dv_add] = [a for a in adds if a["path"] == rel]
        assert dv_add["deletionVector"]["cardinality"] == 4
        [new] = [a["path"] for a in adds if a["path"] != rel]
        assert pq.read_metadata(os.path.join(t, new)).num_rows == 4
        back = read_delta(spark, t)
        assert back.count() == 20
        assert sorted(
            r.k for r in back.collect() if r.v == "UPD"
        ) == [0, 5, 10, 15]
        cf = read_change_feed(spark, t, v, v)
        got = sorted((r.k, r.v, r._change_type) for r in cf.collect())
        assert got == [
            (0, "0", "update_preimage"), (0, "UPD", "update_postimage"),
            (5, "5", "update_preimage"), (5, "UPD", "update_postimage"),
            (10, "10", "update_preimage"),
            (10, "UPD", "update_postimage"),
            (15, "15", "update_preimage"),
            (15, "UPD", "update_postimage"),
        ]

    def test_dv_delete_round_trips_cdf_and_stream(self, spark, tmp_path):
        """Our DV-emitting DELETE on a CDF table stages its own cdc
        files (cdc wins over DV-diff derivation), and the deltastream
        tail applies the re-add's descriptor under ignoreChanges —
        surviving rows re-emit, deleted rows never do."""
        from marketdb_spark.sources.deltadml import delete_delta
        from marketdb_spark.sources.deltalog import read_change_feed
        from marketdb_spark.streaming.deltasource import (
            read_delta_stream,
        )

        t = str(tmp_path / "tbl")
        self._mk(spark, t, n=6, enable_cdf=True)
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

        def drain():
            q = (
                read_delta_stream(spark, t, ignoreChanges="true")
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        drain()  # snapshot: 6 rows
        v = delete_delta(spark, t, "k IN (1, 4)")
        acts = self._acts(t, v)
        assert [a for a in acts if "cdc" in a]  # cdc staged
        cf = read_change_feed(spark, t, v, v)
        assert sorted((r.k, r._change_type) for r in cf.collect()) == [
            (1, "delete"), (4, "delete"),
        ]
        drain()  # tail: the DV re-add re-emits SURVIVING rows only
        got = sorted(r.k for r in spark.read.parquet(out).collect())
        assert got == [0, 0, 1, 2, 2, 3, 3, 4, 5, 5]

    def test_dv_path_never_collects_row_positions(
        self, spark, tmp_path, monkeypatch
    ):
        """Behavior gate (VERDICT r14 / ADVICE r13 medium): a
        DV-emitting DELETE / MERGE must never materialize matched row
        positions on the driver — positions aggregate into per-file
        roaring bitmaps EXECUTOR-side (_dv_bitmap_blobs) and every
        driver collect stays file-sized. The spy fails on any collect
        returning O(matched rows) (thousands here) during the DML.
        Patches the CLASSIC DataFrame class — on Spark 4 the abstract
        ``pyspark.sql.DataFrame.collect`` is overridden there, so a
        parent patch would intercept nothing."""
        from pyspark.sql.classic.dataframe import DataFrame as _DF

        from marketdb_spark.sources.deltadml import (
            delete_delta,
            merge_delta,
        )
        from marketdb_spark.sources.deltalog import read_delta

        t = str(tmp_path / "tbl")
        self._mk(spark, t, n=5000)
        sizes: list[int] = []
        orig = _DF.collect

        def spy(df):
            rows = orig(df)
            sizes.append(len(rows))
            return rows

        monkeypatch.setattr(_DF, "collect", spy)
        v = delete_delta(spark, t, "k % 5 < 4")  # 4000 of 5000 rows
        assert v is not None
        src = spark.range(5000).selectExpr("id AS k", "'M' AS v").filter(
            "k % 5 = 4 AND k < 2500"
        )  # updates 500 of the 1000 surviving rows
        v2 = merge_delta(
            spark, t, src, ["k"],
            when_matched="update", when_not_matched=None,
        )
        assert v2 is not None
        monkeypatch.undo()
        assert sizes and max(sizes) <= 64, sorted(sizes)[-5:]
        got = read_delta(spark, t).collect()
        assert len(got) == 1000 and all(r.k % 5 == 4 for r in got)
        assert sorted(r.k for r in got if r.v == "M") == list(
            range(4, 2500, 5)
        )

    def test_discover_and_count_single_pass(self, spark, tmp_path):
        """r14 optimization gate: predicate DML discovers its matched
        files and the DV-policy counts in ONE aggregate
        (_discover_and_count) — per-file (live, matched) counts are
        DV-filtered (soft-deleted rows count in neither), and a DELETE
        on a DV table runs exactly two row-returning collects total:
        the discovery aggregate and the executor-side bitmap blobs
        (before: a distinct-file discovery scan PLUS a counts scan PLUS
        the bitmap pass)."""
        from pyspark.sql.classic.dataframe import DataFrame as _DF

        from marketdb_spark.sources.deltadml import (
            _discover_and_count,
            _table_state,
            delete_delta,
        )

        t = str(tmp_path / "tbl")
        self._mk(spark, t, n=20)
        # grow a DV first so the counts must be DV-filtered
        assert delete_delta(spark, t, "k < 4") is not None  # DV: 0-3
        snap = _table_state(t)
        stats = _discover_and_count(
            spark, t, snap, F.expr("k % 2 = 0")
        )
        # 16 live rows (4 soft-deleted), 8 of them even (4,6,...,18)
        assert list(stats.values()) == [(16, 8)]
        n_collects = 0
        orig = _DF.collect

        def spy(df):
            nonlocal n_collects
            n_collects += 1
            return orig(df)

        _DF.collect = spy
        try:
            assert delete_delta(spark, t, "k % 2 = 0") is not None
        finally:
            _DF.collect = orig
        assert n_collects == 2, n_collects

    def test_enable_dvs_create_time_only(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import (
            delta_features,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        write_delta(
            spark.createDataFrame([(1, "a")], "k long, v string"), t
        )
        with pytest.raises(ValueError, match="create-time only"):
            write_delta(
                spark.createDataFrame([(2, "b")], "k long, v string"),
                t,
                enable_dvs=True,
            )
        t2 = str(tmp_path / "tbl2")
        self._mk(spark, t2, n=3)
        feats = delta_features(t2)
        assert "deletionVectors" in feats["protocol"]["readerFeatures"]
        assert "deletionVectors" in feats["protocol"]["writerFeatures"]
        assert (
            feats["configuration"]["delta.enableDeletionVectors"]
            == "true"
        )


class TestRowTrackingPreservation:
    """delta.enableRowTracking=true DML (VERDICT r13 item 4): surviving
    rows keep their stable row ids across rewrites via materialized
    row-id / row-commit-version columns (PROTOCOL.md "Row Tracking")."""

    def _ids(self, spark, t):
        from marketdb_spark.sources.deltadml import _scan_with_row_ids
        from marketdb_spark.sources.deltalog import (
            _materialized_rt_cols,
            _replay,
        )

        snap = _replay(t, None)
        rid, rcv = _materialized_rt_cols(snap)
        return {
            r.k: (r[rid], r[rcv])
            for r in _scan_with_row_ids(
                spark, t, snap, snap.live, rid, rcv
            ).collect()
        }

    def test_dml_preserves_row_ids(self, spark, tmp_path):
        """Create with enable_row_tracking → ids 0..n-1; DELETE keeps
        survivors' ids AND commit versions; UPDATE keeps rid and stamps
        the new commit version on updated rows only; MERGE keeps
        matched ids and allocates fresh ids above the high-water mark
        for inserts; the materialized columns live in the staged
        parquet files under the configured names."""
        import pyarrow.parquet as pq

        from marketdb_spark.sources.deltadml import (
            delete_delta,
            merge_delta,
            update_delta,
        )
        from marketdb_spark.sources.deltalog import (
            _materialized_rt_cols,
            _replay,
            delta_live_files,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        write_delta(
            spark.range(10)
            .selectExpr("id AS k", "CAST(id AS STRING) AS v")
            .coalesce(1)
            .sortWithinPartitions("k"),
            t,
            enable_row_tracking=True,
        )
        assert self._ids(spark, t) == {
            k: (k, 0) for k in range(10)
        }
        delete_delta(spark, t, "k IN (2, 5)")
        assert self._ids(spark, t) == {
            k: (k, 0) for k in range(10) if k not in (2, 5)
        }
        v = update_delta(spark, t, "k = 7", {"v": "'UPD'"})
        got = self._ids(spark, t)
        assert got[7] == (7, v)  # rid kept, rcv = this commit
        assert got[0] == (0, 0)  # untouched rows keep their version
        src = spark.createDataFrame(
            [(3, "M"), (100, "NEW")], "k long, v string"
        )
        v2 = merge_delta(spark, t, src, ["k"])
        got = self._ids(spark, t)
        assert got[3] == (3, v2)
        hwm_before_insert = 9
        assert got[100][0] > hwm_before_insert and got[100][1] == v2
        assert len({rid for rid, _ in got.values()}) == len(got)
        # the staged files physically carry the configured columns
        snap = _replay(t, None)
        rid_col, _ = _materialized_rt_cols(snap)
        carrying = [
            rel
            for rel in delta_live_files(t)
            if rid_col
            in pq.read_schema(os.path.join(t, rel)).names
        ]
        assert carrying

    def test_dv_delete_on_row_tracking_table(self, spark, tmp_path):
        """enableRowTracking + enableDeletionVectors: a DV-emitting
        DELETE re-adds the SAME file with its baseRowId verbatim — ids
        preserved with zero materialization."""
        from marketdb_spark.sources.deltadml import delete_delta
        from marketdb_spark.sources.deltalog import (
            _replay,
            delta_live_files,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        write_delta(
            spark.range(8)
            .selectExpr("id AS k", "CAST(id AS STRING) AS v")
            .coalesce(1)
            .sortWithinPartitions("k"),
            t,
            enable_row_tracking=True,
            enable_dvs=True,
        )
        [rel] = delta_live_files(t)
        before = (_replay(t, None).row_meta or {}).get(rel)
        assert before and before["baseRowId"] == 0
        delete_delta(spark, t, "k = 3")
        snap = _replay(t, None)
        assert snap.dvs.get(rel)  # soft-deleted, not rewritten
        assert (snap.row_meta or {}).get(rel) == before  # id anchor kept
        assert self._ids(spark, t) == {
            k: (k, 0) for k in range(8) if k != 3
        }

    def test_restore_preserves_row_ids(self, spark, tmp_path):
        """RESTORE re-references historical files WITH their historical
        baseRowId/defaultRowCommitVersion — stable ids survive the undo
        (the r12 refusal is lifted: the historical fields ARE the
        preservation)."""
        from marketdb_spark.sources.deltadml import (
            delete_delta,
            restore_delta,
        )
        from marketdb_spark.sources.deltalog import read_delta, write_delta

        t = str(tmp_path / "tbl")
        write_delta(
            spark.range(6)
            .selectExpr("id AS k", "CAST(id AS STRING) AS v")
            .coalesce(1)
            .sortWithinPartitions("k"),
            t,
            enable_row_tracking=True,
        )
        before = self._ids(spark, t)
        delete_delta(spark, t, "k = 1")
        assert restore_delta(spark, t, 0) is not None
        assert read_delta(spark, t).count() == 6
        assert self._ids(spark, t) == before  # ids reverted exactly

    def test_restore_undoes_dv_delete(self, spark, tmp_path):
        """A path live in BOTH snapshots with a DIFFERENT deletion
        vector restores too: the re-add carries the HISTORICAL
        descriptor (none, here) — undoing a DV-emitting DELETE brings
        the soft-deleted rows back; the path-set diff alone would have
        missed it entirely."""
        from marketdb_spark.sources.deltadml import (
            delete_delta,
            restore_delta,
        )
        from marketdb_spark.sources.deltalog import (
            _replay,
            read_delta,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        write_delta(
            spark.range(10)
            .selectExpr("id AS k", "CAST(id AS STRING) AS v")
            .coalesce(1)
            .sortWithinPartitions("k"),
            t,
            enable_dvs=True,
        )
        delete_delta(spark, t, "k % 3 = 0")  # v1: DV-emitting
        delete_delta(spark, t, "k = 1")      # v2: grows the vector
        assert read_delta(spark, t).count() == 5
        v = restore_delta(spark, t, 1)  # undo only the second delete
        assert v is not None
        assert sorted(r.k for r in read_delta(spark, t).collect()) == [
            1, 2, 4, 5, 7, 8,
        ]
        snap = _replay(t, None)
        [desc] = snap.dvs.values()
        assert desc["cardinality"] == 4  # the v1 vector, restored
        # back to the pre-delete world: no vectors at all
        restore_delta(spark, t, 0)
        assert _replay(t, None).dvs == {}
        assert read_delta(spark, t).count() == 10
        # already at target: no-op
        assert restore_delta(spark, t, 0) is None

    def test_dv_merge_preserves_ids(self, spark, tmp_path):
        """Row tracking × deletionVectors (VERDICT r14 item 6): a
        DV-emitting MERGE re-adds the original file (unchanged rows
        keep BOTH materialized columns verbatim — same file, same
        bytes) and stages only the modified rows, which keep their row
        id but null their materialized commit version so it falls back
        to the new add's defaultRowCommitVersion = the MERGE's own
        commit."""
        import json as _json

        from marketdb_spark.sources.deltadml import merge_delta
        from marketdb_spark.sources.deltalog import (
            delta_live_files,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        write_delta(
            spark.range(10)
            .selectExpr("id AS k", "CAST(id AS STRING) AS v")
            .coalesce(1)
            .sortWithinPartitions("k"),
            t,
            enable_dvs=True,
            enable_row_tracking=True,
        )
        [rel] = delta_live_files(t)
        before = self._ids(spark, t)
        src = spark.createDataFrame(
            [(2, "M"), (7, "M")], "k long, v string"
        )
        v = merge_delta(
            spark, t, src, ["k"],
            when_matched="update", when_not_matched=None,
        )
        with open(
            os.path.join(t, "_delta_log", f"{v:020d}.json")
        ) as f:
            acts = [_json.loads(l) for l in f if l.strip()]
        dv_adds = [
            a["add"]
            for a in acts
            if "add" in a and a["add"].get("deletionVector")
        ]
        assert (
            len(dv_adds) == 1
            and dv_adds[0]["path"] == rel
            and dv_adds[0]["deletionVector"]["cardinality"] == 2
        ), dv_adds
        after = self._ids(spark, t)
        assert set(after) == set(before)
        for k, (rid, rcv) in after.items():
            assert rid == before[k][0], (k, rid, before[k])
            if k in (2, 7):
                assert rcv == v, (k, rcv, v)
            else:
                assert rcv == before[k][1], (k, rcv, before[k])


class TestV2SidecarWriter:
    """Sidecar-emitting v2 checkpoint writer (VERDICT r13 item 5): the
    layout that keeps any single checkpoint file bounded on very large
    tables — round-trips through the existing sidecar reader."""

    def test_sidecar_checkpoint_round_trips(self, spark, tmp_path):
        """Above sidecar_size the adds split into bounded parquet files
        under _delta_log/_sidecars/ referenced by sidecar actions;
        replay from the v2 file alone (clean_log) reconstructs the
        exact live set incl. DV descriptors and txn marks; a missing
        sidecar raises; sidecar-less stays the default."""
        import re

        from marketdb_spark.sources.deltadv import commit_inline_dv
        from marketdb_spark.sources.deltalog import (
            _replay,
            clean_log,
            delta_live_files,
            last_txn_version,
            read_delta,
            write_checkpoint,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        schema = "k long, v string, p string"
        write_delta(
            spark.createDataFrame(
                [(i, f"v{i}", f"p{i % 5}") for i in range(10)], schema
            ).repartition(5, "p"),
            t,
            partition_by=["p"],
        )
        rel = sorted(delta_live_files(t))[0]
        commit_inline_dv(t, rel, [0])  # a descriptor must survive
        # commit_inline_dv re-emits its own protocol, so the
        # v2Checkpoint declaration must land AFTER it
        with open(
            os.path.join(t, "_delta_log", f"{2:020d}.json"), "w"
        ) as f:
            f.write(json.dumps({"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors", "v2Checkpoint"],
                "writerFeatures": ["deletionVectors", "v2Checkpoint"],
            }}) + "\n")
        write_delta(
            spark.createDataFrame([(99, "z", "p0")], schema),
            t,
            txn_app="app",
            txn_version=5,
        )
        want = sorted(
            tuple(r) for r in read_delta(spark, t).collect()
        )
        v = write_checkpoint(t, sidecar_size=2)
        [ck] = [
            n
            for n in os.listdir(os.path.join(t, "_delta_log"))
            if re.fullmatch(
                rf"{v:020d}\.checkpoint\.[0-9a-f\-]{{36}}\.json", n
            )
        ]
        with open(os.path.join(t, "_delta_log", ck)) as f:
            acts = [json.loads(l) for l in f if l.strip()]
        sides = [a["sidecar"] for a in acts if "sidecar" in a]
        assert len(sides) >= 3  # 6 live files / 2 per sidecar
        assert not [a for a in acts if "add" in a]  # nothing inline
        side_dir = os.path.join(t, "_delta_log", "_sidecars")
        assert all(
            os.path.exists(os.path.join(side_dir, s["path"]))
            and s["sizeInBytes"]
            == os.path.getsize(os.path.join(side_dir, s["path"]))
            for s in sides
        )
        removed = clean_log(t)
        assert removed
        snap = _replay(t, None)
        assert snap.dvs  # descriptor survived the sidecar hop
        got = sorted(tuple(r) for r in read_delta(spark, t).collect())
        assert got == want
        assert last_txn_version(t, "app") == 5
        # crash-sim: a referenced sidecar disappearing is corruption
        os.remove(os.path.join(side_dir, sides[0]["path"]))
        with pytest.raises(ValueError, match="missing sidecar"):
            read_delta(spark, t).collect()

    def test_small_table_stays_sidecarless(self, spark, tmp_path):
        import re

        from marketdb_spark.sources.deltalog import (
            write_checkpoint,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        write_delta(
            spark.createDataFrame([(1, "a")], "k long, v string"), t
        )
        with open(
            os.path.join(t, "_delta_log", f"{1:020d}.json"), "w"
        ) as f:
            f.write(json.dumps({"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": ["v2Checkpoint"],
                "writerFeatures": ["v2Checkpoint"],
            }}) + "\n")
        v = write_checkpoint(t, sidecar_size=100)  # fewer adds than cap
        [ck] = [
            n
            for n in os.listdir(os.path.join(t, "_delta_log"))
            if re.fullmatch(
                rf"{v:020d}\.checkpoint\.[0-9a-f\-]{{36}}\.json", n
            )
        ]
        with open(os.path.join(t, "_delta_log", ck)) as f:
            acts = [json.loads(l) for l in f if l.strip()]
        assert [a for a in acts if "add" in a]
        assert not [a for a in acts if "sidecar" in a]
        assert not os.path.isdir(
            os.path.join(t, "_delta_log", "_sidecars")
        )


class TestClusteredTable:
    """clusteredTable writer feature (PROTOCOL.md "Clustered Table"):
    writable — the obligation is preserving the clustering
    implementation's delta.clustering domain, which replay/checkpoint/
    clean_log already honor for any domain."""

    def test_append_preserves_clustering_domain(self, spark, tmp_path):
        from marketdb_spark.sources.deltadml import delete_delta
        from marketdb_spark.sources.deltalog import (
            _replay,
            clean_log,
            delta_domain_metadata,
            delta_features,
            read_delta,
            write_checkpoint,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        write_delta(
            spark.createDataFrame([(1, "a")], "k long, v string"), t
        )
        dom_cfg = json.dumps({"clusteringColumns": [["k"]]})
        with open(
            os.path.join(t, "_delta_log", f"{1:020d}.json"), "w"
        ) as f:
            f.write(json.dumps({"protocol": {
                "minReaderVersion": 1, "minWriterVersion": 7,
                "writerFeatures": ["clusteredTable", "domainMetadata"],
            }}) + "\n")
            f.write(json.dumps({"domainMetadata": {
                "domain": "delta.clustering",
                "configuration": dom_cfg,
                "removed": False,
            }}) + "\n")
        assert delta_features(t)["unsupported"] == []
        # appends are legal (best-effort clustering per the spec)
        write_delta(
            spark.createDataFrame([(2, "b")], "k long, v string"), t
        )
        # DML is legal too
        delete_delta(spark, t, "k = 1")
        # the clustering domain survives checkpoint + log retention
        write_checkpoint(t)
        clean_log(t)
        doms = delta_domain_metadata(t)
        assert doms["delta.clustering"] == dom_cfg
        assert _replay(t, None).domains["delta.clustering"]
        assert sorted(r.k for r in read_delta(spark, t).collect()) == [2]

    def test_append_actually_clusters(self, spark, tmp_path):
        """Write-path clustering (VERDICT r14 item 7): an append to a
        table carrying a delta.clustering domain routes through the
        Morton sort on the clustering columns (zorder.cluster_frame),
        so per-file min/max ranges tighten vs the unsorted batch —
        parquet stats then prune scans on BOTH clustering columns.
        Asserted from the staged files' real footers."""
        import pyarrow.parquet as pq

        from marketdb_spark.sources.deltalog import (
            delta_live_files,
            read_delta,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        write_delta(
            spark.createDataFrame([(0, 0, 0)], "x long, y long, v long"),
            t,
        )
        with open(
            os.path.join(t, "_delta_log", f"{1:020d}.json"), "w"
        ) as f:
            f.write(json.dumps({"protocol": {
                "minReaderVersion": 1, "minWriterVersion": 7,
                "writerFeatures": ["clusteredTable", "domainMetadata"],
            }}) + "\n")
            f.write(json.dumps({"domainMetadata": {
                "domain": "delta.clustering",
                "configuration": json.dumps(
                    {"clusteringColumns": [["x"], ["y"]]}
                ),
                "removed": False,
            }}) + "\n")
        # an adversarial batch: x and y independently shuffled, 8
        # partitions — unclustered staging would give every file the
        # full range of both columns
        n = 4096
        batch = (
            spark.range(n)
            .selectExpr(
                # try_add: nullable-typed, matching the table schema
                "try_add(pmod(id * 2654435761, 4096), 0) AS x",
                "try_add(pmod(id * 40503, 4096), 0) AS y",
                "try_add(id, 0) AS v",
            )
            .repartition(8)
        )
        write_delta(batch, t)
        rels = [r for r in delta_live_files(t)]
        spans_x, spans_y, total_rows = [], [], 0
        for rel in rels:
            md = pq.read_metadata(os.path.join(t, rel))
            if md.num_rows <= 1:
                continue
            total_rows += md.num_rows
            lo_x = hi_x = lo_y = hi_y = None
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    st = col.statistics
                    if st is None:
                        continue
                    name = col.path_in_schema
                    if name == "x":
                        lo_x = st.min if lo_x is None else min(lo_x, st.min)
                        hi_x = st.max if hi_x is None else max(hi_x, st.max)
                    elif name == "y":
                        lo_y = st.min if lo_y is None else min(lo_y, st.min)
                        hi_y = st.max if hi_y is None else max(hi_y, st.max)
            spans_x.append((hi_x - lo_x) / 4096)
            spans_y.append((hi_y - lo_y) / 4096)
        assert total_rows >= n
        # 8 z-ordered files over 2 dims: each should cover well under
        # the full range of each dimension (~8^(-1/2) ≈ 0.35 ideal;
        # gate loosely at 0.75 — an unsorted layout sits at ~1.0)
        import statistics

        assert statistics.mean(spans_x) < 0.75, spans_x
        assert statistics.mean(spans_y) < 0.75, spans_y
        assert read_delta(spark, t).count() == n + 1

    def test_bare_optimize_reclusters_on_domain(self, spark, tmp_path):
        """A bare OPTIMIZE on a clustered table re-clusters on the
        delta.clustering domain's columns (delta-spark's clustered-
        table OPTIMIZE), recorded as zOrderBy in commitInfo."""
        from marketdb_spark.sources.deltalog import (
            delta_history,
            optimize_delta,
            read_delta,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        write_delta(
            spark.range(100).selectExpr("id AS x", "id % 10 AS y"), t
        )
        with open(
            os.path.join(t, "_delta_log", f"{1:020d}.json"), "w"
        ) as f:
            f.write(json.dumps({"protocol": {
                "minReaderVersion": 1, "minWriterVersion": 7,
                "writerFeatures": ["clusteredTable", "domainMetadata"],
            }}) + "\n")
            f.write(json.dumps({"domainMetadata": {
                "domain": "delta.clustering",
                "configuration": json.dumps(
                    {"clusteringColumns": [["x"], ["y"]]}
                ),
                "removed": False,
            }}) + "\n")
        v = optimize_delta(spark, t)
        assert v is not None
        ops = {
            h["version"]: h.get("operationParameters") or {}
            for h in delta_history(t)
        }
        assert json.loads(ops[v].get("zOrderBy") or "[]") == ["x", "y"]
        assert read_delta(spark, t).count() == 100


class TestCheckpointProtection:
    """checkpointProtection writer feature (PROTOCOL.md "Checkpoint
    Protection"): metadata cleanup must not strip history inside the
    protected range unless the truncation reaches the boundary."""

    def test_clean_log_honors_protection(self, spark, tmp_path):
        from marketdb_spark.sources.deltalog import (
            clean_log,
            read_delta,
            write_checkpoint,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        write_delta(spark.range(3).selectExpr("id AS k"), t)
        for v in (1, 2, 3):
            write_delta(
                spark.range(3).selectExpr(f"id + {3 * v} AS k"), t
            )
        # foreign enablement: protocol declares the feature, config
        # protects history before version 3
        with open(
            os.path.join(t, "_delta_log", f"{4:020d}.json"), "w"
        ) as f:
            f.write(json.dumps({"protocol": {
                "minReaderVersion": 1, "minWriterVersion": 7,
                "writerFeatures": ["checkpointProtection"],
            }}) + "\n")
            f.write(json.dumps({"metaData": {
                "id": "cp-tbl",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(
                    {"type": "struct", "fields": [{
                        "name": "k", "type": "long",
                        "nullable": True, "metadata": {},
                    }]}
                ),
                "partitionColumns": [],
                "configuration": {
                    "delta."
                    "requireCheckpointProtectionBeforeVersion": "3",
                },
            }}) + "\n")
        # checkpoint INSIDE the protected range: cleanup must refuse
        write_checkpoint(t, version=1)
        with pytest.raises(ValueError, match="checkpointProtection"):
            clean_log(t)
        # checkpoint at the boundary: one-step truncation is legal
        write_checkpoint(t)
        assert clean_log(t)
        assert read_delta(spark, t).count() == 12
        # ordinary commits carry no extra obligation — the feature is
        # writer-granted, so appends keep working
        write_delta(
            spark.range(2).selectExpr("try_add(id, 100) AS k"), t
        )
        assert read_delta(spark, t).count() == 14


class TestDeltaVariant:
    """variantType table feature (PROTOCOL.md "Variant Data Type" /
    Delta 4.x): VARIANT columns write and read through the protocol
    replay; the guards around what this engine does NOT consume."""

    def test_variant_round_trip_and_guards(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from marketdb_spark.sources.deltalog import (
            delta_features,
            read_delta,
            write_delta,
        )
        from marketdb_spark.streaming.deltasource import (
            DeltaStreamReader,
        )

        t = str(tmp_path / "tbl")
        df = spark.createDataFrame(
            [(1, '{"a": 1, "b": "x"}'), (2, '{"a": 2, "b": "y"}')],
            "k long, js string",
        ).select("k", F.parse_json("js").alias("v"))
        write_delta(df, t)
        feats = delta_features(t)
        assert "variantType" in feats["protocol"]["readerFeatures"]
        assert "variantType" in feats["protocol"]["writerFeatures"]
        assert feats["unsupported"] == []
        back = read_delta(spark, t)
        got = sorted(
            (r.k, r.a, r.b)
            for r in back.select(
                "k",
                F.variant_get("v", "$.a", "int").alias("a"),
                F.variant_get("v", "$.b", "string").alias("b"),
            ).collect()
        )
        assert got == [(1, 1, "x"), (2, 2, "y")]
        # appends with the feature declared keep working
        write_delta(
            spark.createDataFrame(
                [(3, '{"a": 3, "b": "z"}')], "k long, js string"
            ).select("k", F.parse_json("js").alias("v")),
            t,
        )
        assert read_delta(spark, t).count() == 3
        # a variant column into a FEATURE-BLIND existing table raises
        t2 = str(tmp_path / "plain")
        write_delta(
            spark.createDataFrame([(1,)], "k long"), t2
        )
        with pytest.raises(ValueError, match="variantType"):
            write_delta(df, t2, merge_schema=True)
        # the streaming lanes refuse by name
        schema = back.schema
        with pytest.raises(ValueError, match="VARIANT columns"):
            DeltaStreamReader(
                {"path": t, "partcols": "[]", "configjson": "{}"},
                schema,
            )

    def test_shredded_variant_round_trip(self, spark, tmp_path):
        """variantShredding-preview (VERDICT r14 item 4): with Spark's
        shredded variant writer on, write_delta stages the spec's
        metadata/value/typed_value groups, DECLARES the reader-writer
        feature, and the scan reassembles them losslessly (Spark 4's
        vectorized reader; allowReadingShredded default-on). A foreign
        shredding-declared table with UNSHREDDED binaries (the spec's
        value-only shape) reads through the same gate."""
        from pyspark.sql import functions as F

        from marketdb_spark.sources.deltalog import (
            delta_features,
            delta_live_files,
            read_delta,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        df = spark.createDataFrame(
            [(1, '{"a": 1, "b": "x"}'), (2, '{"a": 2, "b": "y"}')],
            "k long, js string",
        ).select("k", F.parse_json("js").alias("v"))
        spark.conf.set("spark.sql.variant.writeShredding.enabled", "true")
        spark.conf.set("spark.sql.variant.inferShreddingSchema", "true")
        try:
            write_delta(df.coalesce(1), t)
        finally:
            spark.conf.unset("spark.sql.variant.writeShredding.enabled")
            spark.conf.unset("spark.sql.variant.inferShreddingSchema")
        feats = delta_features(t)["protocol"]
        for side in ("readerFeatures", "writerFeatures"):
            assert "variantShredding-preview" in feats[side], feats
        [rel] = delta_live_files(t)
        with open(os.path.join(t, rel), "rb") as fh:
            assert b"typed_value" in fh.read(), "file is not shredded"
        got = sorted(
            (r.k, r.a, r.b)
            for r in read_delta(spark, t)
            .select(
                "k",
                F.variant_get("v", "$.a", "int").alias("a"),
                F.variant_get("v", "$.b", "string").alias("b"),
            )
            .collect()
        )
        assert got == [(1, 1, "x"), (2, 2, "y")]
        # a foreign table declaring shredding over UNSHREDDED binaries
        # (legal per the spec) reads too
        t2 = str(tmp_path / "plainshred")
        write_delta(df.coalesce(1), t2)
        with open(
            os.path.join(t2, "_delta_log", f"{1:020d}.json"), "w"
        ) as f:
            f.write(json.dumps({"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": [
                    "variantType", "variantShredding-preview",
                ],
                "writerFeatures": [
                    "variantType", "variantShredding-preview",
                ],
            }}) + "\n")
        assert read_delta(spark, t2).count() == 2


class TestCDFDVDiffMapped:
    """The modern Databricks default table shape — columnMapping +
    deletionVectors + CDF together: the DV-diff derivation must speak
    LOGICAL names while the data files and descriptors speak physical
    ones."""

    def test_dv_diff_on_column_mapped_table(self, spark, tmp_path):
        from marketdb_spark.sources.deltadv import encode_inline_dv
        from marketdb_spark.sources.deltalog import (
            _replay,
            delta_live_files,
            read_change_feed,
            read_delta,
        )
        from marketdb_spark.sources.deltalog import write_delta

        t = str(tmp_path / "tbl")
        write_delta(
            spark.range(6)
            .selectExpr("id AS k", "CAST(id AS STRING) AS v")
            .coalesce(1)
            .sortWithinPartitions("k"),
            t,
            column_mapping="name",
            enable_cdf=True,
        )
        [rel] = delta_live_files(t)
        # foreign DV DELETE on the mapped table: feature-form protocol
        # declaring all three, remove + re-add with an inline vector,
        # NO cdc files
        desc = encode_inline_dv([1, 4])
        with open(
            os.path.join(t, "_delta_log", f"{1:020d}.json"), "w"
        ) as f:
            f.write(json.dumps({"commitInfo": {
                "operation": "DELETE", "timestamp": 1000,
            }}) + "\n")
            f.write(json.dumps({"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": ["columnMapping", "deletionVectors"],
                "writerFeatures": [
                    "changeDataFeed", "columnMapping", "deletionVectors",
                ],
            }}) + "\n")
            f.write(json.dumps({"remove": {
                "path": rel, "dataChange": True, "partitionValues": {},
            }}) + "\n")
            f.write(json.dumps({"add": {
                "path": rel, "partitionValues": {},
                "size": os.path.getsize(os.path.join(t, rel)),
                "modificationTime": 1000, "dataChange": True,
                "deletionVector": desc,
            }}) + "\n")
        assert sorted(r.k for r in read_delta(spark, t).collect()) == [
            0, 2, 3, 5,
        ]
        cf = read_change_feed(spark, t, 1, 1)
        assert sorted(
            (r.k, r.v, r._change_type) for r in cf.collect()
        ) == [(1, "1", "delete"), (4, "4", "delete")]
        # grow the vector: only the diff derives
        desc2 = encode_inline_dv([1, 3, 4])
        snap = _replay(t, None)
        with open(
            os.path.join(t, "_delta_log", f"{2:020d}.json"), "w"
        ) as f:
            f.write(json.dumps({"commitInfo": {
                "operation": "DELETE", "timestamp": 2000,
            }}) + "\n")
            f.write(json.dumps({"remove": {
                "path": rel, "dataChange": True, "partitionValues": {},
                "deletionVector": snap.dvs[rel],
            }}) + "\n")
            f.write(json.dumps({"add": {
                "path": rel, "partitionValues": {},
                "size": os.path.getsize(os.path.join(t, rel)),
                "modificationTime": 2000, "dataChange": True,
                "deletionVector": desc2,
            }}) + "\n")
        cf2 = read_change_feed(spark, t, 2, 2)
        assert sorted(
            (r.k, r.v, r._change_type) for r in cf2.collect()
        ) == [(3, "3", "delete")]
        assert sorted(r.k for r in read_delta(spark, t).collect()) == [
            0, 2, 5,
        ]


class TestDVMapped:
    """DV-emitting DML on COLUMN-MAPPED tables (VERDICT r14 item 3):
    the pre-round-14 copy-on-write fallback is gone — predicates speak
    logical names, descriptors key physical paths, positions are
    parquet row indexes (mapping-blind), and the position scans read
    physical columns renamed back to logical (_phys_read)."""

    @pytest.mark.parametrize("cmode", ["name", "id"])
    def test_mapped_dml_emits_dvs(self, spark, tmp_path, cmode):
        from marketdb_spark.sources.deltadml import (
            delete_delta,
            merge_delta,
            update_delta,
        )
        from marketdb_spark.sources.deltalog import (
            delta_live_files,
            read_delta,
            write_delta,
        )

        t = str(tmp_path / f"tbl_{cmode}")
        write_delta(
            spark.range(100)
            .selectExpr("id AS k", "CAST(id AS STRING) AS v")
            .coalesce(1)
            .sortWithinPartitions("k"),
            t,
            column_mapping=cmode,
            enable_dvs=True,
        )
        [rel] = delta_live_files(t)
        for ver, action in (
            (1, lambda: delete_delta(spark, t, "k % 3 = 0")),
            (
                2,
                lambda: merge_delta(
                    spark,
                    t,
                    spark.range(100)
                    .selectExpr("id AS k", "'M' AS v")
                    .filter("k % 7 = 1"),
                    ["k"],
                    when_matched="update",
                    when_not_matched=None,
                ),
            ),
            (3, lambda: update_delta(spark, t, "k % 11 = 2", {"v": "'U'"})),
        ):
            got_v = action()
            assert got_v == ver
            with open(
                os.path.join(t, "_delta_log", f"{ver:020d}.json")
            ) as f:
                acts = [json.loads(l) for l in f if l.strip()]
            dv_adds = [
                a["add"]
                for a in acts
                if "add" in a and a["add"].get("deletionVector")
            ]
            assert (
                len(dv_adds) == 1
                and dv_adds[0]["path"] == rel
                and dv_adds[0]["deletionVector"]["storageType"] == "u"
            ), (ver, dv_adds)
        rows = {r.k: r.v for r in read_delta(spark, t).collect()}
        assert set(rows) == {k for k in range(100) if k % 3 != 0}
        for k, v in rows.items():
            want = (
                "M"
                if k % 7 == 1
                else ("U" if k % 11 == 2 else str(k))
            )
            assert v == want, (k, v, want)

    def test_mapped_partitioned_dv_delete(self, spark, tmp_path):
        """Partition columns are physically KEYED in partitionValues
        under mapping — the position scan must re-attach them under
        logical names for the predicate."""
        from marketdb_spark.sources.deltadml import delete_delta
        from marketdb_spark.sources.deltalog import (
            read_delta,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        write_delta(
            spark.range(40).selectExpr(
                "id AS k", "id % 2 AS p", "CAST(id AS STRING) AS v"
            ),
            t,
            partition_by=["p"],
            column_mapping="name",
            enable_dvs=True,
        )
        v = delete_delta(spark, t, "p = 0 AND k % 4 = 0")
        assert v == 1
        got = sorted(r.k for r in read_delta(spark, t).collect())
        assert got == [k for k in range(40) if not (k % 2 == 0 and k % 4 == 0)]

    def test_mapped_rt_dv_compose(self, spark, tmp_path):
        """columnMapping + rowTracking + deletionVectors — the modern
        Databricks default shape — all three at once: ids stay stable
        across a DV-emitting DELETE then MERGE (the materialized
        columns store under their configured names verbatim, next to
        the col-<uuid> physical data columns)."""
        from marketdb_spark.sources.deltadml import (
            _scan_with_row_ids,
            delete_delta,
            merge_delta,
        )
        from marketdb_spark.sources.deltalog import (
            _materialized_rt_cols,
            _replay,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        write_delta(
            spark.range(30)
            .selectExpr("id AS k", "CAST(id AS STRING) AS v")
            .coalesce(1)
            .sortWithinPartitions("k"),
            t,
            column_mapping="name",
            enable_dvs=True,
            enable_row_tracking=True,
        )

        def ids():
            snap = _replay(t, None)
            rid, rcv = _materialized_rt_cols(snap)
            return {
                r.k: r[rid]
                for r in _scan_with_row_ids(
                    spark, t, snap, snap.live, rid, rcv
                ).collect()
            }

        before = ids()
        delete_delta(spark, t, "k % 2 = 0")
        merge_delta(
            spark,
            t,
            spark.range(30).selectExpr("id AS k", "'M' AS v").filter(
                "k % 5 = 1"
            ),
            ["k"],
            when_matched="update",
            when_not_matched=None,
        )
        after = ids()
        assert set(after) == {k for k in range(30) if k % 2 == 1}
        for k, rid in after.items():
            assert rid == before[k], (k, rid, before[k])


class TestDVMerge:
    """DV-emitting MERGE (the upsert primitive on DV tables): touched
    rows vector out of their files, only modified rows + inserts write
    bytes."""

    def test_merge_emits_dv_for_touched_rows(self, spark, tmp_path):
        import pyarrow.parquet as pq

        from marketdb_spark.sources.deltadml import merge_delta
        from marketdb_spark.sources.deltalog import (
            delta_live_files,
            read_change_feed,
            read_delta,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        write_delta(
            spark.range(20)
            .selectExpr("id AS k", "CAST(id AS STRING) AS v")
            .coalesce(1)
            .sortWithinPartitions("k"),
            t,
            enable_dvs=True,
            enable_cdf=True,
        )
        [rel] = delta_live_files(t)
        src = spark.createDataFrame(
            [(3, "U3"), (7, "U7"), (100, "NEW")], "k long, v string"
        )
        v = merge_delta(spark, t, src, ["k"])
        with open(
            os.path.join(t, "_delta_log", f"{v:020d}.json")
        ) as f:
            acts = [json.loads(l) for l in f if l.strip()]
        adds = [a["add"] for a in acts if "add" in a]
        [dv_add] = [a for a in adds if a["path"] == rel]
        assert dv_add["deletionVector"]["cardinality"] == 2
        staged_rows = sum(
            pq.read_metadata(os.path.join(t, a["path"])).num_rows
            for a in adds
            if a["path"] != rel
        )
        assert staged_rows == 3  # 2 updates + 1 insert, never 20
        # no empty adds (the 0-row shuffle partitions are skipped)
        assert all(
            pq.read_metadata(os.path.join(t, a["path"])).num_rows > 0
            for a in adds
            if a["path"] != rel
        )
        back = read_delta(spark, t)
        assert back.count() == 21
        assert sorted(
            (r.k, r.v) for r in back.collect() if r.k in (3, 7, 100)
        ) == [(3, "U3"), (7, "U7"), (100, "NEW")]
        cf = read_change_feed(spark, t, v, v)
        assert sorted(
            (r.k, r.v, r._change_type) for r in cf.collect()
        ) == [
            (3, "3", "update_preimage"), (3, "U3", "update_postimage"),
            (7, "7", "update_preimage"), (7, "U7", "update_postimage"),
            (100, "NEW", "insert"),
        ]
        # delete-clause merge grows the vector, writes nothing
        src2 = spark.createDataFrame(
            [(1, "x"), (5, "x")], "k long, v string"
        )
        v2 = merge_delta(
            spark, t, src2, ["k"],
            when_matched="delete", when_not_matched=None,
        )
        with open(
            os.path.join(t, "_delta_log", f"{v2:020d}.json")
        ) as f:
            acts2 = [json.loads(l) for l in f if l.strip()]
        adds2 = [a["add"] for a in acts2 if "add" in a]
        [dv_add2] = [a for a in adds2 if a.get("deletionVector")]
        assert dv_add2["deletionVector"]["cardinality"] == 4  # union
        assert read_delta(spark, t).count() == 19


class TestOptimizeRowTracking:
    """Id-preserving OPTIMIZE on delta.enableRowTracking=true tables
    (r13): compaction materializes the surviving ids, so enabled tables
    can compact — and on DV tables, PURGE — without losing stable row
    identity."""

    def test_optimize_preserves_row_ids_and_purges_dvs(
        self, spark, tmp_path
    ):
        from marketdb_spark.sources.deltadml import (
            _scan_with_row_ids,
            delete_delta,
        )
        from marketdb_spark.sources.deltalog import (
            _materialized_rt_cols,
            _replay,
            delta_live_files,
            optimize_delta,
            read_delta,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        schema = "k long, v string"
        write_delta(
            spark.range(6)
            .selectExpr("id AS k", "CAST(id AS STRING) AS v")
            .coalesce(1)
            .sortWithinPartitions("k"),
            t,
            enable_row_tracking=True,
            enable_dvs=True,
        )
        write_delta(
            spark.range(10, 12)
            .selectExpr("id AS k", "CAST(id AS STRING) AS v")
            .coalesce(1),
            t,
        )
        delete_delta(spark, t, "k IN (1, 4)")  # DV-emitting

        def ids():
            snap = _replay(t, None)
            rid, rcv = _materialized_rt_cols(snap)
            return {
                r.k: (r[rid], r[rcv])
                for r in _scan_with_row_ids(
                    spark, t, snap, snap.live, rid, rcv
                ).collect()
            }

        before = ids()
        assert set(before) == {0, 2, 3, 5, 10, 11}
        v = optimize_delta(spark, t, min_files=1)
        assert v is not None
        snap = _replay(t, None)
        assert snap.dvs == {}  # purge happened
        assert len(delta_live_files(t)) == 1  # compacted
        assert ids() == before  # every surviving id intact
        assert read_delta(spark, t).count() == 6
        # the next optimize is a no-op (already compact, no DVs)
        assert optimize_delta(spark, t, min_files=2) is None

    def test_optimize_assigns_names_lazily(self, spark, tmp_path):
        """A table enabled WITHOUT materialized column names (mid-life
        config flip) gets them assigned in the OPTIMIZE commit's own
        metaData, mirroring the DML path."""
        import json as _json

        from marketdb_spark.sources.deltalog import (
            _materialized_rt_cols,
            _replay,
            optimize_delta,
            write_delta,
        )

        t = str(tmp_path / "tbl")
        schema = "k long, v string"
        write_delta(
            spark.createDataFrame([(1, "a")], schema).coalesce(1), t
        )
        write_delta(
            spark.createDataFrame([(2, "b")], schema).coalesce(1), t
        )
        base = _replay(t, None)
        with open(
            os.path.join(t, "_delta_log", f"{2:020d}.json"), "w"
        ) as f:
            f.write(_json.dumps({"protocol": {
                "minReaderVersion": 1, "minWriterVersion": 7,
                "writerFeatures": ["domainMetadata", "rowTracking"],
            }}) + "\n")
            f.write(_json.dumps({"metaData": {
                "id": "x",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": base.schema_json,
                "partitionColumns": [],
                "configuration": {"delta.enableRowTracking": "true"},
            }}) + "\n")
        assert _materialized_rt_cols(_replay(t, None)) is None
        assert optimize_delta(spark, t, min_files=2) is not None
        assert _materialized_rt_cols(_replay(t, None)) is not None
