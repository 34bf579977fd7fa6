"""Medallion pipeline tests — mirrors the reference's own test strategy
(SURVEY.md §5: validation drops, schema lock, keep-last, sortedness)
plus gold-feature golden values and the quality/quarantine split.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from e2e_stock_data_pipeline_spark.functions.calendar import (
    build_trading_calendar,
    last_n_trading_days,
    trading_days_between,
)
from e2e_stock_data_pipeline_spark.operators.quality import audit_suite, run_suite
from e2e_stock_data_pipeline_spark.pipeline.gold import price_features
from e2e_stock_data_pipeline_spark.pipeline.prices import (
    LOCKED_COLUMNS,
    normalize_prices,
    write_partitioned_by_day,
)
from e2e_stock_data_pipeline_spark.pipeline.silver import merge_upsert


def raw_price_rows(spark):
    rows = [
        # symbol, date, open, high, low, close, volume, fetched_at, request_id, extra
        ("aapl ", "2024-09-13", 1.0, 2.0, 0.5, 1.5, 100, "2024-09-15T01:00:00+00:00", "r1", "x"),
        ("AAPL", "2024-09-16", 1.1, 2.1, 0.6, 1.6, 110, "2024-09-15T01:00:00+00:00", "r1", "x"),
        ("AAPL", None, 1.0, 2.0, 0.5, 1.5, 100, "2024-09-15T01:00:00+00:00", "r1", "x"),
        ("AAPL", "invalid-date", 1.0, 2.0, 0.5, 1.5, 100, "2024-09-15T01:00:00+00:00", "r1", "x"),
        ("AAPL", "2024-09-17", 1.0, 2.0, 0.5, 1.5, -5, "2024-09-15T01:00:00+00:00", "r1", "x"),
        # duplicate (symbol, date): later row must win (keep-last)
        ("MSFT", "2024-09-16", 9.0, 9.0, 9.0, 9.0, 50, "2024-09-15T01:00:00+00:00", "r2", "x"),
        ("MSFT", "2024-09-16", 8.0, 8.0, 8.0, 8.0, 60, "2024-09-15T01:00:00+00:00", "r2", "x"),
    ]
    cols = ["symbol", "date", "open", "high", "low", "close", "volume", "fetched_at", "request_id", "extra_field"]
    return spark.createDataFrame(rows, cols)


class TestNormalizePrices:
    def test_schema_lock_and_validity(self, spark):
        out = normalize_prices(raw_price_rows(spark))
        assert out.columns == LOCKED_COLUMNS  # exact order, extras dropped
        rows = out.collect()
        # invalid date (null + unparseable) and negative volume dropped
        assert {(r.symbol, str(r.as_of_date)) for r in rows} == {
            ("AAPL", "2024-09-13"),
            ("AAPL", "2024-09-16"),
            ("MSFT", "2024-09-16"),
        }

    def test_keep_last_dedup(self, spark):
        out = normalize_prices(raw_price_rows(spark))
        msft = out.filter(F.col("symbol") == "MSFT").collect()[0]
        assert msft.close == 8.0 and msft.volume == 60  # later row won

    def test_sorted_and_hash(self, spark):
        out = normalize_prices(raw_price_rows(spark)).collect()
        aapl = [r for r in out if r.symbol == "AAPL"]
        assert [str(r.as_of_date) for r in aapl] == ["2024-09-13", "2024-09-16"]
        assert all(len(r.file_hash) == 64 for r in out)

    def test_partitioned_write_layout(self, spark, tmp_path):
        out = normalize_prices(raw_price_rows(spark))
        dest = str(tmp_path / "prices")
        write_partitioned_by_day(out, dest)
        dirs = sorted(d for d in os.listdir(dest) if d.startswith("dt="))
        assert dirs == ["dt=2024-09-13", "dt=2024-09-16"]
        back = spark.read.parquet(dest)
        assert back.count() == 3


class TestMergeUpsert:
    def test_insert_then_update(self, spark, tmp_path):
        path = str(tmp_path / "silver")
        base = spark.createDataFrame(
            [("AAPL", "2024-09-13", 1.5, 1), ("AAPL", "2024-09-16", 1.6, 1)],
            ["symbol", "trade_date", "close", "v"],
        )
        merge_upsert(spark, path, base, ["symbol", "trade_date"], "v")
        upd = spark.createDataFrame(
            [("AAPL", "2024-09-16", 2.6, 2), ("MSFT", "2024-09-16", 9.9, 2)],
            ["symbol", "trade_date", "close", "v"],
        )
        merge_upsert(spark, path, upd, ["symbol", "trade_date"], "v")
        got = {
            (r.symbol, r.trade_date): r.close for r in spark.read.parquet(path).collect()
        }
        assert got == {
            ("AAPL", "2024-09-13"): 1.5,
            ("AAPL", "2024-09-16"): 2.6,  # updated
            ("MSFT", "2024-09-16"): 9.9,  # inserted
        }

    # The engine's MERGE semantics contract, table-driven. Encodes the
    # reference's WHEN MATCHED / WHEN NOT MATCHED + row_num=1 shape
    # (docs/databricks_setup.md:170-198) under the engine's newest-wins
    # policy (see merge_upsert docstring for the one deliberate
    # difference: an older source row never clobbers newer target data,
    # where the reference's unconditional UPDATE SET * would).
    # merge_upsert dispatches to native Delta when importable, so the
    # same matrix gates BOTH routes — today it runs the staged-rewrite
    # fallback; with delta-spark installed it verifies DeltaTable.merge.
    # Rows are (symbol, trade_date, close, v); v is the recency order.
    MERGE_MATRIX = [
        (
            "unmatched_source_inserts",
            [("A", "d1", 1.0, 1)],
            [("B", "d1", 9.0, 1)],
            {("A", "d1"): (1.0, 1), ("B", "d1"): (9.0, 1)},
        ),
        (
            "newer_source_updates",
            [("A", "d1", 1.0, 1)],
            [("A", "d1", 2.0, 2)],
            {("A", "d1"): (2.0, 2)},
        ),
        (
            "older_source_loses",
            [("A", "d1", 5.0, 5)],
            [("A", "d1", 1.0, 1)],
            {("A", "d1"): (5.0, 5)},
        ),
        (
            "tie_update_wins",
            [("A", "d1", 1.0, 3)],
            [("A", "d1", 2.0, 3)],
            {("A", "d1"): (2.0, 3)},
        ),
        (
            "row_num_1_guard_only_newest_source_row_acts",
            [("A", "d1", 1.0, 1)],
            # three source rows for one key: only v=4 may act
            [("A", "d1", 2.0, 2), ("A", "d1", 4.0, 4), ("A", "d1", 3.0, 3)],
            {("A", "d1"): (4.0, 4)},
        ),
        (
            "target_rows_never_disappear",
            [("A", "d1", 1.0, 1), ("A", "d2", 2.0, 1), ("C", "d1", 3.0, 1)],
            [("A", "d2", 9.0, 2)],
            {
                ("A", "d1"): (1.0, 1),
                ("A", "d2"): (9.0, 2),
                ("C", "d1"): (3.0, 1),
            },
        ),
        (
            "mixed_batch_per_key_independence",
            [("A", "d1", 1.0, 2), ("B", "d1", 1.0, 2)],
            # A gets an older row (loses), B a newer one (wins), D is new
            [("A", "d1", 9.0, 1), ("B", "d1", 9.0, 3), ("D", "d1", 7.0, 1)],
            {
                ("A", "d1"): (1.0, 2),
                ("B", "d1"): (9.0, 3),
                ("D", "d1"): (7.0, 1),
            },
        ),
    ]

    @pytest.mark.parametrize(
        "name,target,updates,expected", MERGE_MATRIX, ids=[c[0] for c in MERGE_MATRIX]
    )
    def test_merge_semantics_matrix(self, spark, tmp_path, name, target, updates, expected):
        cols = ["symbol", "trade_date", "close", "v"]
        path = str(tmp_path / "silver")
        merge_upsert(spark, path, spark.createDataFrame(target, cols), ["symbol", "trade_date"], "v")
        merge_upsert(spark, path, spark.createDataFrame(updates, cols), ["symbol", "trade_date"], "v")
        got = {
            (r.symbol, r.trade_date): (r.close, r.v)
            for r in spark.read.parquet(path).collect()
        }
        assert got == expected, name
        # idempotency: replaying the same update batch changes nothing
        merge_upsert(spark, path, spark.createDataFrame(updates, cols), ["symbol", "trade_date"], "v")
        again = {
            (r.symbol, r.trade_date): (r.close, r.v)
            for r in spark.read.parquet(path).collect()
        }
        assert again == expected, f"{name}: merge is not idempotent"

    def test_tied_source_rows_resolve_by_content_hash(self, spark, tmp_path):
        """ADVICE r7: two source rows tied on the order col used to
        survive nondeterministically (row_number over equal sort keys).
        Now the max content hash wins — pinned by computing the same
        xxhash64 here, and by layout-invariance across partitionings."""
        cols = ["symbol", "trade_date", "close", "v"]
        tied = [("A", "d1", 1.0, 7), ("A", "d1", 2.0, 7), ("A", "d1", 3.0, 7)]
        src = spark.createDataFrame(tied, cols)
        expected_close = (
            src.withColumn("_h", F.xxhash64(*cols))
            .orderBy(F.col("_h").desc())
            .first()
            .close
        )
        for i, parted in enumerate([src.coalesce(1), src.repartition(5, "close")]):
            path = str(tmp_path / f"silver{i}")
            merge_upsert(spark, path, parted, ["symbol", "trade_date"], "v")
            rows = spark.read.parquet(path).collect()
            assert len(rows) == 1 and rows[0].close == expected_close

    def test_reserved_helper_column_rejected(self, spark, tmp_path):
        """A user column named _src_pri (or _tie/_rn) would silently
        corrupt the tie policy via withColumn replacement — refuse it."""
        df = spark.createDataFrame(
            [("A", "d1", 1.0, 1, 9)], ["symbol", "trade_date", "close", "v", "_src_pri"]
        )
        with pytest.raises(ValueError, match="_src_pri"):
            merge_upsert(spark, str(tmp_path / "s"), df, ["symbol", "trade_date"], "v")

    def test_crash_before_promote_loses_no_silver_rows(self, spark, tmp_path, monkeypatch):
        """A crash after the live table is moved out of the way and before
        the staged one is promoted must not turn the next merge into a
        first load that silently drops every earlier silver row."""
        cols = ["symbol", "trade_date", "close", "v"]
        keys = ["symbol", "trade_date"]
        path = str(tmp_path / "silver")
        base = [("A", "d1", 1.0, 1), ("B", "d1", 2.0, 1)]
        merge_upsert(spark, path, spark.createDataFrame(base, cols), keys, "v")
        upd = spark.createDataFrame([("A", "d1", 5.0, 2), ("C", "d1", 3.0, 1)], cols)

        crashed = []

        def crash_on_promote(real):
            def call(src, dst, *args, **kwargs):
                if not crashed and os.path.normpath(dst) == os.path.normpath(path):
                    crashed.append(dst)
                    raise OSError("injected crash before promote")
                return real(src, dst, *args, **kwargs)

            return call

        monkeypatch.setattr(os, "replace", crash_on_promote(os.replace))
        monkeypatch.setattr(os, "rename", crash_on_promote(os.rename))
        with pytest.raises(OSError, match="injected crash"):
            merge_upsert(spark, path, upd, keys, "v")
        monkeypatch.undo()
        assert crashed
        merge_upsert(spark, path, upd, keys, "v")
        got = {
            (r.symbol, r.trade_date): (r.close, r.v)
            for r in spark.read.parquet(path).collect()
        }
        assert got == {
            ("A", "d1"): (5.0, 2),
            ("B", "d1"): (2.0, 1),
            ("C", "d1"): (3.0, 1),
        }


class TestGoldFeatures:
    def test_known_values(self, spark):
        rows = [("A", dt.date(2024, 1, i + 1), float(i + 1)) for i in range(5)]
        silver = spark.createDataFrame(rows, ["symbol", "trade_date", "close"])
        out = price_features(silver).orderBy("trade_date").collect()
        # ma_20 over 1..5 with partial frames = running mean
        assert [round(r.ma_20, 6) for r in out] == [1.0, 1.5, 2.0, 2.5, 3.0]
        assert out[0].daily_return is None
        assert round(out[1].daily_return, 6) == 1.0  # (2-1)/1
        assert out[0].volatility_20d is None  # single-row frame
        assert round(out[1].volatility_20d, 6) == round(0.7071067811865476, 6)

    def test_short_series_partial_frames(self, spark):
        rows = [("B", dt.date(2024, 1, 1), 10.0)]
        out = price_features(spark.createDataFrame(rows, ["symbol", "trade_date", "close"]))
        r = out.collect()[0]
        assert r.ma_20 == 10.0 and r.ma_50 == 10.0 and r.daily_return is None


PRICES_SUITE = {
    "expectations": [
        {"expectation_type": "expect_column_to_exist", "kwargs": {"column": "symbol"}},
        {"expectation_type": "expect_column_values_to_not_be_null", "kwargs": {"column": "symbol"}},
        {"expectation_type": "expect_column_values_to_not_be_null", "kwargs": {"column": "trade_date"}},
        {"expectation_type": "expect_column_values_to_be_between", "kwargs": {"column": "volume", "min_value": 0}},
        {"expectation_type": "expect_column_values_to_be_between", "kwargs": {"column": "close", "min_value": 0}},
    ]
}


class TestExpectations:
    def rows(self, spark):
        return spark.createDataFrame(
            [
                ("AAPL", "2024-09-13", 1.5, 100),
                (None, "2024-09-13", 1.5, 100),     # null symbol
                ("MSFT", None, 1.5, 100),           # null date
                ("MSFT", "2024-09-13", -2.0, 100),  # negative close
                ("NVDA", "2024-09-13", 1.0, -1),    # negative volume
            ],
            ["symbol", "trade_date", "close", "volume"],
        )

    def test_split(self, spark, tmp_path):
        valid, bad = run_suite(self.rows(spark), PRICES_SUITE, str(tmp_path / "quarantine"))
        assert valid.count() == 1 and bad.count() == 4
        assert spark.read.parquet(str(tmp_path / "quarantine")).count() == 4

    def test_audit_counts(self, spark):
        res = {f"{r.rule}:{r.column}": r.violations for r in audit_suite(self.rows(spark), PRICES_SUITE)}
        assert res["expect_column_values_to_not_be_null:symbol"] == 1
        assert res["expect_column_values_to_not_be_null:trade_date"] == 1
        assert res["expect_column_values_to_be_between:volume"] == 1
        assert res["expect_column_values_to_be_between:close"] == 1

    def test_missing_column_is_structural_error(self, spark):
        df = spark.createDataFrame([(1,)], ["x"])
        with pytest.raises(ValueError, match="missing"):
            run_suite(df, PRICES_SUITE)


class TestTradingCalendar:
    def test_weekend_and_holiday(self, spark):
        cal = build_trading_calendar(spark, "2024-09-01", "2024-09-30", holidays=["2024-09-02"])
        by_date = {str(r.cal_date): r for r in cal.collect()}
        assert by_date["2024-09-16"].is_trading          # Monday
        assert not by_date["2024-09-14"].is_trading      # Saturday
        assert not by_date["2024-09-02"].is_trading      # holiday (Labor Day)
        # previous trading day skips the weekend
        assert str(by_date["2024-09-16"].prev_trading_day) == "2024-09-13"

    def test_last_n_and_between(self, spark):
        cal = build_trading_calendar(spark, "2024-09-01", "2024-09-30")
        last5 = sorted(str(r.cal_date) for r in last_n_trading_days(cal, 5, "2024-09-20").collect())
        assert last5 == ["2024-09-16", "2024-09-17", "2024-09-18", "2024-09-19", "2024-09-20"]
        n = trading_days_between(cal, "2024-09-09", "2024-09-13").count()
        assert n == 5


class TestMaintenance:
    def test_compact_bins_small_files(self, spark, tmp_path):
        from e2e_stock_data_pipeline_spark.pipeline.maintenance import compact

        path = str(tmp_path / "t")
        spark.range(10000).repartition(64).write.parquet(path)
        import glob

        assert len(glob.glob(f"{path}/*.parquet")) == 64
        compact(spark, path)
        assert len(glob.glob(f"{path}/*.parquet")) == 1  # tiny data -> 1 file
        assert spark.read.parquet(path).count() == 10000

    def test_staged_rewrite_invalidates_table_memo(self, spark, tmp_path):
        # ADVICE r2: the sources.tables DataFrame memo keys on path; an
        # in-place maintenance rewrite must evict it or later loads see a
        # stale (deleted) file index.
        from e2e_stock_data_pipeline_spark.operators import materialize as memo
        from e2e_stock_data_pipeline_spark.pipeline.maintenance import compact

        path = str(tmp_path / "t")
        spark.range(1000).repartition(8).write.parquet(path)
        memo.session_memo(spark, ("table", path), lambda: spark.read.parquet(path))
        key = (spark.sparkContext.applicationId, "table", path)
        assert key in memo._MEMO
        compact(spark, path)
        assert key not in memo._MEMO  # evicted by the rewrite

    def test_recover_staged_heals_crash_window(self, spark, tmp_path):
        # ADVICE r12: a crash between rename-aside and promote leaves the
        # data ONLY at path._old; the next maintenance entry must restore
        # it rather than delete the sole surviving copy.
        import os

        from e2e_stock_data_pipeline_spark.pipeline.commit import recover as recover_staged
        from e2e_stock_data_pipeline_spark.pipeline.maintenance import compact

        path = str(tmp_path / "t")
        spark.range(500).write.parquet(path)
        # simulate the crash window: table renamed aside, promote never ran
        os.replace(path, path + "._old")
        assert not os.path.exists(path)
        assert recover_staged(path) is True
        assert spark.read.parquet(path).count() == 500
        # idempotent when healthy, and compact() self-heals via the same path
        assert recover_staged(path) is False
        os.replace(path, path + "._old")
        compact(spark, path)
        assert spark.read.parquet(path).count() == 500
        assert not os.path.exists(path + "._old")

    def test_cluster_rewrite_narrows_file_ranges(self, spark, tmp_path):
        from e2e_stock_data_pipeline_spark.pipeline.maintenance import cluster_rewrite
        from pyspark.sql import functions as F
        import pyarrow.parquet as pq
        import glob

        path = str(tmp_path / "t")
        spark.range(100000).select(
            (F.col("id") * 7919 % 1000).alias("k"), F.col("id").alias("v")
        ).repartition(8).write.parquet(path)
        cluster_rewrite(spark, path, ["k"])
        files = glob.glob(f"{path}/*.parquet")
        spans = []
        for f in files:
            md = pq.read_metadata(f)
            mins = min(md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups))
            maxs = max(md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups))
            spans.append(maxs - mins)
        if len(files) > 1:
            # each file covers a narrow slice of k, not the whole [0, 1000)
            assert sorted(spans)[len(spans) // 2] < 400
        assert spark.read.parquet(path).count() == 100000


class TestVersionedTable:
    def test_time_travel_and_history(self, spark, tmp_path):
        from e2e_stock_data_pipeline_spark.pipeline.versioned import (
            history,
            read_version,
            write_version,
        )

        root = str(tmp_path / "vt")
        v0 = write_version(spark.createDataFrame([("A", 1.0)], ["k", "x"]), root, "create")
        v1 = write_version(
            spark.createDataFrame([("A", 2.0), ("B", 3.0)], ["k", "x"]), root, "merge"
        )
        assert (v0, v1) == (0, 1)
        assert {r.k: r.x for r in read_version(spark, root, 0).collect()} == {"A": 1.0}
        assert read_version(spark, root).count() == 2  # latest
        h = history(root)
        assert [e["operation"] for e in h] == ["create", "merge"]
        assert [e["rows"] for e in h] == [1, 2]

    def test_change_feed(self, spark, tmp_path):
        from e2e_stock_data_pipeline_spark.pipeline.versioned import (
            changes_between,
            write_version,
        )

        root = str(tmp_path / "vt")
        write_version(
            spark.createDataFrame([("A", 1.0), ("B", 2.0), ("C", 3.0)], ["k", "x"]), root
        )
        write_version(
            spark.createDataFrame([("A", 1.0), ("B", 9.0), ("D", 4.0)], ["k", "x"]), root
        )
        got = {
            r.k: (r.x, r._change_type)
            for r in changes_between(spark, root, ["k"], 0, 1).collect()
        }
        assert got == {
            "B": (9.0, "update_postimage"),
            "C": (3.0, "delete"),
            "D": (4.0, "insert"),
        }  # A unchanged -> absent

    def test_failed_manifest_write_keeps_history(self, spark, tmp_path, monkeypatch):
        import json

        from e2e_stock_data_pipeline_spark.pipeline.versioned import history, write_version

        root = str(tmp_path / "vt")
        write_version(spark.createDataFrame([("A", 1.0)], ["k", "x"]), root, "create")
        df = spark.createDataFrame([("B", 2.0)], ["k", "x"])

        def boom(*args, **kwargs):
            raise RuntimeError("injected manifest failure")

        monkeypatch.setattr(json, "dump", boom)
        monkeypatch.setattr(json, "dumps", boom)
        with pytest.raises(RuntimeError, match="injected manifest failure"):
            write_version(df, root, "merge")
        monkeypatch.undo()
        assert [(e["version"], e["operation"]) for e in history(root)] == [(0, "create")]

    def test_unlisted_version_dir_is_overwritten(self, spark, tmp_path):
        from e2e_stock_data_pipeline_spark.pipeline.versioned import (
            read_version,
            write_version,
        )

        root = str(tmp_path / "vt")
        write_version(spark.createDataFrame([("A", 1.0)], ["k", "x"]), root)
        # the snapshot of a write that crashed before its manifest commit
        spark.createDataFrame([("Z", 9.0)], ["k", "x"]).write.parquet(
            os.path.join(root, "_versions", "v=1")
        )
        assert write_version(spark.createDataFrame([("B", 2.0)], ["k", "x"]), root) == 1
        assert {r.k: r.x for r in read_version(spark, root, 1).collect()} == {"B": 2.0}


class TestEmptyInputs:
    """Reference parity: empty API responses produce empty-but-well-formed
    frames (tests/test_ingest_local.py:169-194 analog)."""

    def test_normalize_prices_empty(self, spark):
        cols = ["symbol", "date", "open", "high", "low", "close", "volume",
                "fetched_at", "request_id"]
        schema = "symbol string, date string, open double, high double, low double, close double, volume long, fetched_at string, request_id string"
        empty = spark.createDataFrame([], schema)
        out = normalize_prices(empty)
        assert out.columns == LOCKED_COLUMNS and out.count() == 0

    def test_ingest_endpoint_empty_response(self, spark):
        from e2e_stock_data_pipeline_spark.sources.ingest import (
            ENDPOINTS,
            IngestClient,
            ingest_endpoint,
        )

        client = IngestClient(lambda url, p: ([], 200), sleeper=lambda s: None)
        df = ingest_endpoint(spark, client, ENDPOINTS["income"], ["AAPL"], "d", "t")
        assert df.count() == 0 and "payload" in df.columns

    def test_gold_features_empty(self, spark):
        from e2e_stock_data_pipeline_spark.pipeline.gold import price_features

        empty = spark.createDataFrame([], "symbol string, trade_date date, close double")
        out = price_features(empty)
        assert out.count() == 0
        assert {"ma_20", "ma_50", "volatility_20d", "daily_return"} <= set(out.columns)


class TestZOrder:
    def test_zorder_narrows_both_dimensions(self, spark, tmp_path):
        """After a Morton-curve rewrite, each file covers a narrow range of
        BOTH cluster columns (the data-skipping effect of OPTIMIZE ZORDER)."""
        import glob

        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from e2e_stock_data_pipeline_spark.pipeline.maintenance import zorder_rewrite

        path = str(tmp_path / "t")
        n = 1 << 16
        spark.range(n).select(
            (F.col("id") % 256).alias("x"),
            (F.floor(F.col("id") / 256)).alias("y"),
            F.col("id").alias("v"),
        ).repartition(16).write.parquet(path)
        zorder_rewrite(spark, path, "x", "y", bits=8, num_files=16)
        files = sorted(glob.glob(f"{path}/*.parquet"))
        assert len(files) > 4
        spans_x, spans_y = [], []
        for f in files:
            md = pq.read_metadata(f)
            cols = {md.schema.column(i).name: i for i in range(len(md.schema))}
            for name, spans in [("x", spans_x), ("y", spans_y)]:
                mins = min(md.row_group(g).column(cols[name]).statistics.min for g in range(md.num_row_groups))
                maxs = max(md.row_group(g).column(cols[name]).statistics.max for g in range(md.num_row_groups))
                spans.append(maxs - mins)
        # Morton clustering: median file covers a fraction of each dimension
        med = lambda s: sorted(s)[len(s) // 2]
        assert med(spans_x) < 200 and med(spans_y) < 200
        assert spark.read.parquet(path).count() == n


class TestGreatExpectationsFileFormat:
    """End-to-end parse of the reference's actual GE suite file
    (validation/expectations_prices.json) through the quality runner —
    the file format itself is the contract, not just the rule shapes."""

    REF_PATH = "/root/reference/validation/expectations_prices.json"
    # byte-equivalent copy of the reference file, used if the reference
    # checkout is absent (keeps the test self-contained)
    FALLBACK = {
        "expectation_suite_name": "prices_quality",
        "expectations": [
            {"expectation_type": "expect_column_to_exist", "kwargs": {"column": "symbol"}},
            {"expectation_type": "expect_column_to_exist", "kwargs": {"column": "date"}},
            {"expectation_type": "expect_column_values_to_not_be_null",
             "kwargs": {"column": "symbol"}},
            {"expectation_type": "expect_column_values_to_not_be_null",
             "kwargs": {"column": "date"}},
            {"expectation_type": "expect_column_values_to_be_between",
             "kwargs": {"column": "volume", "min_value": 0}},
            {"expectation_type": "expect_column_values_to_be_between",
             "kwargs": {"column": "close", "min_value": 0}},
        ],
    }

    def _suite(self):
        import json
        import os

        if os.path.exists(self.REF_PATH):
            with open(self.REF_PATH) as f:
                return json.load(f)
        return self.FALLBACK

    def test_reference_suite_parses_and_splits(self, spark):
        suite = self._suite()
        assert suite["expectation_suite_name"] == "prices_quality"
        df = spark.createDataFrame(
            [
                ("AAPL", "2026-08-10", 10.0, 100),     # clean
                (None, "2026-08-10", 10.0, 100),       # null symbol
                ("MSFT", None, 10.0, 100),             # null date
                ("NVDA", "2026-08-10", -5.0, 100),     # negative close
                ("AMD", "2026-08-10", 10.0, -1),       # negative volume
                ("TSLA", "2026-08-10", None, None),    # nulls pass between (GE)
            ],
            ["symbol", "date", "close", "volume"],
        )
        valid, bad = run_suite(df, suite)
        assert {r.symbol for r in valid.collect()} == {"AAPL", "TSLA"}
        assert bad.count() == 4

    def test_reference_suite_audit_counts(self, spark):
        suite = self._suite()
        df = spark.createDataFrame(
            [("AAPL", "d", 1.0, 1), (None, "d", -1.0, -2)],
            ["symbol", "date", "close", "volume"],
        )
        got = {(r.rule, r.column): r.violations for r in audit_suite(df, suite)}
        assert got[("expect_column_values_to_not_be_null", "symbol")] == 1
        assert got[("expect_column_values_to_be_between", "volume")] == 1
        assert got[("expect_column_values_to_be_between", "close")] == 1

    def test_missing_column_is_structural_failure(self, spark):
        df = spark.createDataFrame([("AAPL",)], ["symbol"])
        with pytest.raises(ValueError, match="missing"):
            run_suite(df, self._suite())


class TestTableStats:
    def test_stats_and_skipping_improve_after_cluster_rewrite(self, spark, tmp_path):
        from e2e_stock_data_pipeline_spark.pipeline.maintenance import (
            cluster_rewrite,
            skipping_effectiveness,
            table_stats,
        )

        path = str(tmp_path / "t")
        spark.range(200000).select(
            (F.xxhash64("id") % 10000).alias("k"), F.col("id").alias("v")
        ).repartition(8).write.parquet(path)

        before = table_stats(path, ["k"])
        eff_before = skipping_effectiveness(before, "k")
        assert before["n_files"] == 8 and before["total_rows"] == 200000

        cluster_rewrite(spark, path, ["k"], num_files=8)
        after = table_stats(path, ["k"])
        eff_after = skipping_effectiveness(after, "k")
        assert after["total_rows"] == 200000
        # random-hash layout: every file spans ~the whole range (eff ~ 0);
        # clustered layout: near-disjoint spans (eff -> 1)
        assert eff_before < 0.2 < 0.7 < eff_after

    def test_pruned_scan_skips_files_and_matches_full_scan(self, spark, tmp_path):
        """pruned_scan turns the narrow spans into actual I/O savings:
        identical rows to a full-scan filter, but on the clustered
        layout a narrow range reads ~1-2 of 8 files while the random
        layout must read all 8 (every file spans the whole range)."""
        from e2e_stock_data_pipeline_spark.pipeline.maintenance import (
            cluster_rewrite,
            pruned_scan,
        )

        path = str(tmp_path / "t")
        spark.range(100_000).select(
            (F.pmod(F.xxhash64("id"), F.lit(10_000))).alias("k"),
            F.col("id").alias("v"),
        ).repartition(8).write.parquet(path)
        lo, hi = 100, 400

        def full(p):
            return {
                (r.k, r.v)
                for r in spark.read.parquet(p).filter(F.col("k").between(lo, hi)).collect()
            }

        want = full(path)
        df, meta = pruned_scan(spark, path, "k", lo, hi)
        assert {(r.k, r.v) for r in df.collect()} == want
        assert meta["files_read"] == meta["files_total"] == 8  # no pruning possible

        cluster_rewrite(spark, path, ["k"], num_files=8)
        assert full(path) == want  # rewrite preserves data
        df, meta = pruned_scan(spark, path, "k", lo, hi)
        assert {(r.k, r.v) for r in df.collect()} == want
        assert meta["files_total"] == 8 and meta["files_read"] <= 2

        # stats-excluded range: zero files read, empty result, schema kept
        df, meta = pruned_scan(spark, path, "k", 10_001, 10_002)
        assert meta["files_read"] == 0 and df.count() == 0
        assert df.columns == ["k", "v"]


def test_only_commit_module_renames_or_deletes_tables():
    """The table-commit protocol lives in pipeline/commit.py alone: no
    other module under pipeline/ or streaming/ renames or deletes."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parents[1] / "e2e_stock_data_pipeline_spark"
    pat = re.compile(r"\bos\.(replace|rename)\(|\brmtree\(")
    offenders = [
        f"{f.relative_to(pkg)}:{i}"
        for d in ("pipeline", "streaming")
        for f in sorted((pkg / d).rglob("*.py"))
        if f != pkg / "pipeline" / "commit.py"
        for i, line in enumerate(f.read_text().splitlines(), 1)
        if pat.search(line.split("#")[0])
    ]
    assert not offenders, offenders
