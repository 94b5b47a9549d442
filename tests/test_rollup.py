"""Incremental candle rollup on the snapshot lake: batch-split
independence, bit-exact volume, partition-pruned maintenance, replay
idempotence, streaming maintenance."""

import pytest
from pyspark.sql import functions as F

from crypto_data_ingestion_module_spark.operators.resample import resample_ohlcv
from crypto_data_ingestion_module_spark.operators.rollup import (
    finalize,
    maintain_rollup_snapshot,
    read_rollup_snapshot,
)
from crypto_data_ingestion_module_spark.session import load_table
from crypto_data_ingestion_module_spark.sinks.snapshot import (
    current_version,
    read_manifest,
)
from tests.conftest import SF_SMALL

IVL = 3_600_000  # 1h


def _full(spark):
    ev = load_table(spark, SF_SMALL, "events")
    return resample_ohlcv(
        ev,
        IVL,
        keys=("event_type",),
        ts_col="ts",
        open_col="value",
        high_col="value",
        low_col="value",
        close_col="value",
        volume_col="value",
        tiebreak_col="event_id",
        exact_sums=True,
    )


def _read(spark, lake):
    return finalize(read_rollup_snapshot(spark, lake), ["event_type"])


def _rows(df):
    return {
        (r.bucket_ts, r.event_type): (
            r.open, r.high, r.low, r.close, round(r.volume, 6), r.n_rows
        )
        for r in df.collect()
    }


def test_incremental_equals_full_recompute(spark, tmp_path):
    ev = load_table(spark, SF_SMALL, "events")
    lake = str(tmp_path / "rollup")
    # three arbitrary batches, NOT time-aligned — buckets straddle batches
    for i in range(3):
        maintain_rollup_snapshot(
            spark,
            ev.filter(F.col("event_id") % 3 == i),
            lake,
            IVL,
            batch_id=i,
        )
    got = _rows(_read(spark, lake))
    want = _rows(_full(spark))
    assert got == want

    # replaying an older already-applied batch (not the newest) commits
    # nothing and changes nothing
    v = current_version(spark, lake)
    maintain_rollup_snapshot(
        spark, ev.filter(F.col("event_id") % 3 == 1), lake, IVL, batch_id=1
    )
    assert current_version(spark, lake) == v
    assert _rows(_read(spark, lake)) == want


def test_stream_rollup_matches_batch(spark, tmp_path):
    """Micro-batched streaming maintenance == one-shot batch resample,
    including out-of-order arrival (files are not time-ordered)."""
    import glob
    import os

    from crypto_data_ingestion_module_spark.streaming.rollup_stream import (
        stream_rollup,
    )

    ev = load_table(spark, SF_SMALL, "events")
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    # three files in deliberately shuffled id order (late data)
    for n, i in enumerate([2, 0, 1]):
        tmp = str(tmp_path / f"t{i}")
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.parquet(tmp)
        os.rename(
            glob.glob(tmp + "/*.parquet")[0],
            os.path.join(in_dir, f"b{n}.parquet"),
        )
    src = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    lake = str(tmp_path / "rollup")
    q = stream_rollup(src, lake, str(tmp_path / "ck"), IVL)
    q.awaitTermination(120)
    got = _rows(_read(spark, lake))
    assert got == _rows(_full(spark))


def test_rollup_empty_batch_is_noop(spark, tmp_path):
    """An empty batch over an existing lake commits no version and does
    not enter the replay ledger (the snapshot_upsert rule)."""
    ev = load_table(spark, SF_SMALL, "events")
    lake = str(tmp_path / "r")
    v = maintain_rollup_snapshot(spark, ev, lake, IVL, batch_id="a")
    want = _rows(_read(spark, lake))
    out = maintain_rollup_snapshot(
        spark, ev.filter(F.lit(False)), lake, IVL, batch_id="b"
    )
    assert out == v
    assert current_version(spark, lake) == v
    assert "rollup-b" not in read_manifest(spark, lake, v)["applied_ids"]
    assert _rows(_read(spark, lake)) == want


def test_rollup_random_split_associativity(spark, tmp_path):
    """Partial-merge associativity under RANDOM batch splits: any
    partition of the events into batches must finalize identically."""
    import numpy as np

    ev = load_table(spark, SF_SMALL, "events")
    want = _rows(_full(spark))
    rng = np.random.RandomState(5)
    for trial in range(2):
        n_batches = int(rng.randint(2, 6))
        salt = int(rng.randint(0, 1 << 30))
        lake = str(tmp_path / f"r{trial}")
        for i in range(n_batches):
            batch = ev.filter(
                F.pmod(F.xxhash64("event_id", F.lit(salt)), F.lit(n_batches)) == i
            )
            maintain_rollup_snapshot(
                spark, batch, lake, IVL, batch_id=f"{trial}-{i}"
            )
        got = _rows(_read(spark, lake))
        assert got == want, (trial, n_batches, salt)


def test_rollup_touches_only_batch_dates(spark, tmp_path):
    """On disk, a one-day batch writes files for that date only and
    leaves every existing data file as it was."""
    import glob
    import os

    ev = load_table(spark, SF_SMALL, "events")
    lake = str(tmp_path / "rollup")
    maintain_rollup_snapshot(spark, ev, lake, IVL, batch_id="seed")

    # record file mtimes, then merge a batch confined to ONE day
    one_day = ev.filter(F.date_format("ts", "yyyyMMdd") == "20240115")
    assert one_day.count() > 0
    pattern = lake + "/data/*/date=*/*.parquet"
    before = {p: os.path.getmtime(p) for p in glob.glob(pattern)}
    maintain_rollup_snapshot(spark, one_day, lake, IVL, batch_id="day2")
    after = {p: os.path.getmtime(p) for p in glob.glob(pattern)}
    assert {p: after[p] for p in before} == before
    new_dates = {
        p.split("date=")[1].split("/")[0] for p in set(after) - set(before)
    }
    assert new_dates == {"20240115"}


def test_stream_vwap_matches_batch_query(spark, tmp_path):
    """Streaming continuous-aggregate VWAP == the registered vwap_1h
    batch query, on the same events with the JSON-extracted size column.

    The rollup maintains turnover/volume as exact micro-unit LONG sums;
    the batch query sums the same integers through DECIMAL(38,0), so the
    two quotients agree to the last ulp of their (t/1e6)/(v/1e6) vs t/v
    formulations — compared at 1e-9.
    """
    import glob
    import os

    from crypto_data_ingestion_module_spark.plans.queries import QUERY_SPECS
    from crypto_data_ingestion_module_spark.streaming.rollup_stream import (
        stream_rollup,
    )

    ev = load_table(spark, SF_SMALL, "events").select(
        "event_id",
        "ts",
        "event_type",
        "value",
        F.get_json_object(F.col("props"), "$.k").cast("double").alias("qty"),
    )
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    for n, i in enumerate([1, 2, 0]):  # shuffled arrival order
        tmp = str(tmp_path / f"t{i}")
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.parquet(tmp)
        os.rename(
            glob.glob(tmp + "/*.parquet")[0],
            os.path.join(in_dir, f"b{n}.parquet"),
        )
    src = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    lake = str(tmp_path / "vwap_lake")
    q = stream_rollup(
        src,
        lake,
        str(tmp_path / "ck"),
        3_600_000,
        volume_col="qty",
    )
    q.awaitTermination(120)
    got = {
        (r.bucket_ts, r.event_type): (r.vwap, round(r.volume, 6))
        for r in _read(spark, lake).collect()
    }
    want = {
        (r.bucket_start, r.event_type): (r.vwap, round(r.volume, 6))
        for r in QUERY_SPECS["vwap_1h"].spark(spark, SF_SMALL).collect()
    }
    assert set(got) == set(want)
    for key, (vw, vol) in want.items():
        gvw, gvol = got[key]
        assert gvol == vol, key
        if vw is None:
            assert gvw is None, key
        else:
            assert abs(gvw - vw) < 1e-9, (key, gvw, vw)


def test_cascade_partials_equals_direct(spark):
    """Coarser candles derived from finer PARTIALS == candles built
    directly from the ticks at the coarser grid (the materialized-view
    hierarchy is lossless), including VWAP."""
    from crypto_data_ingestion_module_spark.operators.rollup import (
        cascade_partials,
        candle_partials,
        merge_partials,
    )

    ev = load_table(spark, SF_SMALL, "events")
    fine = candle_partials(ev, 900_000)  # 15m
    via_cascade = finalize(
        cascade_partials(fine, 900_000, 3_600_000), ["event_type"]
    )
    direct = finalize(
        merge_partials(candle_partials(ev, 3_600_000), ["event_type"]),
        ["event_type"],
    )

    def _all(df):
        return sorted(map(tuple, df.collect()))

    assert _all(via_cascade) == _all(direct)

    with pytest.raises(ValueError, match="not a multiple"):
        cascade_partials(fine, 900_000, 1_000_000)
