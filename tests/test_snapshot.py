"""Snapshot-isolated lake (sinks/snapshot.py): readers racing a writer see
exactly the old or the new snapshot, never a mix (VERDICT r3 item 4)."""

import datetime as dt
import os
import re

import pytest
from pyspark.sql import functions as F

from crypto_data_ingestion_module_spark.sinks.snapshot import (
    commit_version,
    current_version,
    read_manifest,
    read_snapshot,
    snapshot_files,
    snapshot_upsert,
    vacuum,
)

T0 = dt.datetime(2024, 1, 1, 0, 0)
T1 = dt.datetime(2024, 1, 1, 0, 15)
T2 = dt.datetime(2024, 1, 2, 0, 0)  # next day → different partition


def _candles(spark, rows):
    return spark.createDataFrame(
        [
            (o, o + 1, o - 1, o + 0.5, v, ts, sym, ex, ivl, "spot")
            for (o, v, ts, sym, ex, ivl) in rows
        ],
        "open double, high double, low double, close double, volume double, "
        "timestamp timestamp, symbol string, exchange string, "
        "interval string, data_type string",
    )


def _state(df):
    return sorted(
        (r.symbol, r.date, r.timestamp, r.open, r.volume)
        for r in df.select(
            "symbol", "date", "timestamp", "open", "volume"
        ).collect()
    )


def test_snapshot_upsert_keep_last(spark, tmp_path):
    root = str(tmp_path / "snap")
    v1 = snapshot_upsert(
        spark,
        _candles(
            spark,
            [
                (100.0, 1.0, T0, "BTC-USDT", "coinbase", "15m"),
                (110.0, 1.5, T1, "BTC-USDT", "coinbase", "15m"),
            ],
        ),
        root,
    )
    assert v1 == 1
    v2 = snapshot_upsert(
        spark,
        _candles(
            spark,
            [
                (999.0, 9.0, T0, "BTC-USDT", "coinbase", "15m"),  # correction
                (120.0, 2.0, T2, "BTC-USDT", "coinbase", "15m"),  # new day
            ],
        ),
        root,
    )
    assert v2 == 2
    got = read_snapshot(spark, root)
    assert _state(got) == _state(
        _candles(
            spark,
            [
                (999.0, 9.0, T0, "BTC-USDT", "coinbase", "15m"),
                (110.0, 1.5, T1, "BTC-USDT", "coinbase", "15m"),
                (120.0, 2.0, T2, "BTC-USDT", "coinbase", "15m"),
            ],
        ).withColumn("date", F.date_format("timestamp", "yyyyMMdd"))
    )
    # time travel: version 1 still reads the pre-correction state
    old = read_snapshot(spark, root, version=1)
    assert [r.open for r in old.filter(F.col("timestamp") == T0).collect()] == [
        100.0
    ]

    # K1 layout (reference crypto_collector.py:514-521): one manifest key
    # per (symbol, interval, data_type, exchange, date), and its files sit
    # in that Hive directory under an immutable data/<uuid>/ batch dir
    key = "symbol=BTC-USDT/interval=15m/data_type=spot/exchange=coinbase/date=20240101"
    parts = read_manifest(spark, root, v2)["partitions"]
    assert set(parts) == {key, key.replace("20240101", "20240102")}
    for f in parts[key]:
        assert re.fullmatch(rf"data/[0-9a-f]{{32}}/{key}/[^/]+\.parquet", f), f
        assert os.path.isfile(os.path.join(root, f))

    # idempotence without an applied_id: re-delivering the same patch
    # supersedes with identical payloads, so the state is unchanged
    state = _state(got)
    snapshot_upsert(
        spark,
        _candles(
            spark,
            [
                (999.0, 9.0, T0, "BTC-USDT", "coinbase", "15m"),
                (120.0, 2.0, T2, "BTC-USDT", "coinbase", "15m"),
            ],
        ),
        root,
    )
    assert _state(read_snapshot(spark, root)) == state


def test_reader_sees_old_or_new_never_mixed(spark, tmp_path):
    """Simulate every intermediate writer state a racing reader could
    observe and pin that the resolved snapshot is always exactly-old or
    exactly-new — the property the directory-swap path cannot give."""
    root = str(tmp_path / "snap")
    base = _candles(
        spark,
        [
            (100.0, 1.0, T0, "BTC-USDT", "coinbase", "15m"),
            (200.0, 2.0, T2, "BTC-USDT", "coinbase", "15m"),
        ],
    )
    snapshot_upsert(spark, base, root)
    old_state = _state(read_snapshot(spark, root))

    patch = _candles(
        spark,
        [
            (111.0, 1.1, T0, "BTC-USDT", "coinbase", "15m"),
            (222.0, 2.2, T2, "BTC-USDT", "coinbase", "15m"),
        ],
    )

    # --- mid-write: new data files exist on disk, manifest not committed.
    # A reader resolving through the pointer must still see the old state.
    from crypto_data_ingestion_module_spark.sinks.snapshot import (
        _write_data_files,
    )

    staged = _write_data_files(
        spark,
        patch.withColumn("date", F.date_format("timestamp", "yyyyMMdd"))
        .withColumn("_ingest_seq", F.lit(5).cast("long")),
        root,
        (
            "symbol",
            "interval",
            "data_type",
            "exchange",
            "date",
        ),
    )
    assert staged, "staged files should exist"
    assert _state(read_snapshot(spark, root)) == old_state
    assert current_version(spark, root) == 1

    # --- the real commit path (re-merges; the orphaned staged files above
    # stay invisible garbage until vacuum)
    v = snapshot_upsert(
        spark, patch.withColumn("_ingest_seq", F.lit(6).cast("long")), root
    )
    new_state = _state(read_snapshot(spark, root))
    assert v == 2
    assert new_state != old_state
    assert [s[3] for s in new_state] == [111.0, 222.0]
    # old version remains fully intact — no partial overwrite of its files
    assert _state(read_snapshot(spark, root, version=1)) == old_state


def test_concurrent_commit_detected(spark, tmp_path):
    root = str(tmp_path / "snap")
    snapshot_upsert(
        spark,
        _candles(spark, [(100.0, 1.0, T0, "BTC-USDT", "coinbase", "15m")]),
        root,
    )
    man = read_manifest(spark, root, 1)
    # a second writer committing the same next-version must fail loudly
    commit_version(spark, root, dict(man, version=2), 2)
    with pytest.raises(RuntimeError, match="already committed"):
        commit_version(spark, root, dict(man, version=2), 2)


def test_vacuum_drops_only_unreferenced(spark, tmp_path):
    root = str(tmp_path / "snap")
    snapshot_upsert(
        spark,
        _candles(spark, [(100.0, 1.0, T0, "BTC-USDT", "coinbase", "15m")]),
        root,
    )
    snapshot_upsert(
        spark,
        _candles(spark, [(111.0, 1.1, T0, "BTC-USDT", "coinbase", "15m")])
        .withColumn("_ingest_seq", F.lit(2).cast("long")),
        root,
    )
    before = _state(read_snapshot(spark, root))
    v1_files = set(snapshot_files(spark, root, 1))
    v2_files = set(snapshot_files(spark, root, 2))
    deleted = vacuum(spark, root, keep=1)
    # everything v1-only is gone, everything the live snapshot needs stays
    assert set(deleted) == v1_files - v2_files
    assert _state(read_snapshot(spark, root)) == before
    assert current_version(spark, root) == 2
    with pytest.raises(Exception):
        read_manifest(spark, root, 1)


def _append_files(spark, root, first, n):
    """Upserts of the 15m candles ``first`` .. ``first + n - 1`` of the T0
    day of one series, one per commit: each lies past the day's newest
    candle, so each commit appends one file."""
    for i in range(first, first + n):
        snapshot_upsert(
            spark,
            _candles(
                spark,
                [(100.0 + i, 1.0, T0 + dt.timedelta(minutes=15 * i),
                  "BTC-USDT", "coinbase", "15m")],
            ),
            root,
            applied_id=f"a{i}",
        )


def test_file_cap_rewrite_preserves_content_and_isolation(
    spark, tmp_path, monkeypatch
):
    """Appending upserts add one file per commit until a partition holds
    MAX_FILES_PER_PARTITION files; the next upsert landing there rewrites
    them all into one file.  Re-delivering a stored candle at the cap
    leaves the content unchanged, no partition ever exceeds the cap, and
    the pre-rewrite version still reads intact."""
    import crypto_data_ingestion_module_spark.sinks.snapshot as snap

    monkeypatch.setattr(snap, "MAX_FILES_PER_PARTITION", 3)
    root = str(tmp_path / "snap")
    _append_files(spark, root, 0, 3)
    v = current_version(spark, root)
    (files,) = read_manifest(spark, root, v)["partitions"].values()
    assert len(files) == 3
    before = _state(read_snapshot(spark, root))

    redelivered = _candles(
        spark, [(101.0, 1.0, T1, "BTC-USDT", "coinbase", "15m")]
    )
    assert snapshot_upsert(spark, redelivered, root) == v + 1
    man = read_manifest(spark, root, v + 1)
    (rewritten,) = man["partitions"].values()
    assert len(rewritten) == 1 and not set(rewritten) & set(files)
    assert _state(read_snapshot(spark, root)) == before
    assert _state(read_snapshot(spark, root, version=v)) == before
    # below the cap again: the next later candle appends
    _append_files(spark, root, 3, 5)
    for version in range(1, current_version(spark, root) + 1):
        parts = read_manifest(spark, root, version)["partitions"]
        assert all(len(fl) <= 3 for fl in parts.values()), version


WRITERS = ("upsert", "merge", "append", "overwrite", "delete")


def _write_one(spark, root, writer, applied_id=None):
    """One call of ``writer`` on the lake at ``root``: the 15m candle at
    T1 (open 111) upserted, merged in or appended, the lake overwritten
    with it, or the candle with open 100 deleted.  Returns the version."""
    from crypto_data_ingestion_module_spark.operators.merge import INGEST_SEQ
    from crypto_data_ingestion_module_spark.sinks.snapshot import (
        PARTITION_COLS,
        _with_date,
        snapshot_append,
        snapshot_delete,
        snapshot_merge_partitions,
        snapshot_overwrite,
    )

    batch = _with_date(
        _candles(spark, [(111.0, 1.1, T1, "BTC-USDT", "coinbase", "15m")])
    ).withColumn(INGEST_SEQ, F.lit(9).cast("long"))
    if writer == "upsert":
        return snapshot_upsert(spark, batch, root, applied_id=applied_id)
    if writer == "merge":
        return snapshot_merge_partitions(
            spark, root, batch,
            lambda cur, inc: inc if cur is None else cur.unionByName(inc),
            PARTITION_COLS, applied_id=applied_id,
        )
    if writer == "append":
        return snapshot_append(spark, root, batch, PARTITION_COLS, applied_id)
    if writer == "overwrite":
        return snapshot_overwrite(spark, root, batch, PARTITION_COLS, applied_id)
    return snapshot_delete(
        spark, root, F.col("open") == 100.0, applied_id=applied_id
    )[0]


@pytest.mark.parametrize("writer", WRITERS)
def test_writer_retries_on_lost_commit_race(spark, tmp_path, monkeypatch, writer):
    """Optimistic concurrency: if another writer claims the next version
    between write and commit, the writer recomputes against the NEW
    current snapshot and lands on a later version with both writers'
    effects: an overwrite then also replaces the competitor's file.

    Every committed manifest has the one format: schema, partitioning,
    ledger and eviction count, the seq high-water (every batch here
    carries ``_ingest_seq``) and a row count for every live file of this
    lake with a time column."""
    import crypto_data_ingestion_module_spark.sinks.snapshot as snap

    root = str(tmp_path / "snap")
    snapshot_upsert(
        spark,
        _candles(spark, [(100.0, 1.0, T0, "BTC-USDT", "coinbase", "15m")]),
        root,
    )

    competitor = _candles(
        spark, [(500.0, 5.0, T2, "BTC-USDT", "coinbase", "15m")]
    ).withColumn("_ingest_seq", F.lit(7).cast("long"))
    real_commit = snap.commit_version
    fired = {"n": 0}

    def racing_commit(sp, r, manifest, version):
        if fired["n"] == 0:
            fired["n"] += 1
            # another writer wins version 2 first
            snap.snapshot_upsert(sp, competitor, r)
        return real_commit(sp, r, manifest, version)

    monkeypatch.setattr(snap, "commit_version", racing_commit)
    v = _write_one(spark, root, writer)
    # competitor took v2; our retry landed v3 with everyone's rows
    assert v == 3
    state = _state(read_snapshot(spark, root))
    want = {
        "overwrite": [111.0],
        "delete": [500.0],
    }.get(writer, [100.0, 111.0, 500.0])
    assert [s[3] for s in state] == want
    for version in range(1, v + 1):
        man = read_manifest(spark, root, version)
        assert {
            "schema", "partition_cols", "applied_ids", "applied_ids_evicted",
            "max_ingest_seq",
        } <= man.keys(), version
        assert "applied_ids_frozen_n" not in man, version
        stats = man["file_stats"]
        assert set(stats) == set(snapshot_files(spark, root, version)), version
        assert all("rows" in st for st in stats.values()), version


@pytest.mark.parametrize("writer", WRITERS)
def test_writer_releases_its_cut_and_skips_a_replay_without_a_job(
    spark, tmp_path, writer
):
    """Every writer releases the blocks of the lineage cuts it takes (a
    delete once kept its checkpointed rows cached forever), and a replay
    of an applied ``applied_id`` commits no version and runs no job."""
    from tests.conftest import count_jobs

    root = str(tmp_path / "snap")
    snapshot_upsert(
        spark,
        _candles(spark, [(100.0, 1.0, T0, "BTC-USDT", "coinbase", "15m")]),
        root,
    )
    def cached():
        # ids, not a count: the context cleaner may release other tests'
        # blocks meanwhile
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    before = cached()
    v = _write_one(spark, root, writer, applied_id="once")
    assert v == 2
    assert cached() <= before
    assert count_jobs(
        spark, lambda: _write_one(spark, root, writer, applied_id="once")
    ) == (v, 0)
    assert current_version(spark, root) == v


def test_empty_string_and_null_partition_values_share_one_write_task(
    spark, tmp_path
):
    """Hive writes ``''`` and NULL to one default-partition directory; a
    write task holding both values of a partition column, next to two
    values of another, once opened a file there twice and failed.  An
    upsert and an append of such a batch each store all four rows and
    read both values back."""
    from crypto_data_ingestion_module_spark.sinks.snapshot import (
        PARTITION_COLS,
        _with_date,
        snapshot_append,
    )

    rows = [
        (100.0, 1.0, T0, sym, "coinbase", ivl)
        for sym in ("", None)
        for ivl in ("15m", "1h")
    ]
    want = sorted((s is None, s, i) for _, _, _, s, _, i in rows)
    for name in ("upsert", "append"):
        root = str(tmp_path / name)
        batch = _with_date(_candles(spark, rows)).coalesce(1)
        if name == "upsert":
            snapshot_upsert(spark, batch, root)
        else:
            snapshot_append(spark, root, batch, PARTITION_COLS)
        got = sorted(
            (r.symbol is None, r.symbol, r.interval)
            for r in read_snapshot(spark, root).collect()
        )
        assert got == want, name


def test_time_range_read_prunes_files_via_manifest_stats(spark, tmp_path):
    """Data skipping: the manifest's per-file ts min/max prunes the file
    list driver-side; the pruned read equals full-read + filter."""
    import datetime as dt

    from crypto_data_ingestion_module_spark.sinks.snapshot import (
        snapshot_files_in_range,
    )

    root = str(tmp_path / "snap")
    snapshot_upsert(
        spark,
        _candles(
            spark,
            [
                (100.0, 1.0, T0, "BTC-USDT", "coinbase", "15m"),
                (110.0, 1.5, T1, "BTC-USDT", "coinbase", "15m"),
                (200.0, 2.0, T2, "BTC-USDT", "coinbase", "15m"),
            ],
        ),
        root,
    )
    man = read_manifest(spark, root, 1)
    assert man["file_stats"] and all(
        st["ts_min_us"] <= st["ts_max_us"] for st in man["file_stats"].values()
    )

    day1 = (
        dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc),
        dt.datetime(2024, 1, 1, 23, 59, tzinfo=dt.timezone.utc),
    )
    pruned = snapshot_files_in_range(spark, root, day1)
    assert 0 < len(pruned) < len(snapshot_files(spark, root, 1))

    got = _state(read_snapshot(spark, root, time_range=day1))
    want = _state(
        read_snapshot(spark, root).filter(
            F.col("timestamp") < dt.datetime(2024, 1, 2)
        )
    )
    assert got == want and len(got) == 2

    # an empty window reads nothing but keeps the schema
    empty = read_snapshot(
        spark,
        root,
        time_range=(
            dt.datetime(2030, 1, 1, tzinfo=dt.timezone.utc),
            dt.datetime(2030, 1, 2, tzinfo=dt.timezone.utc),
        ),
    )
    assert empty.count() == 0
    assert set(empty.columns) == set(read_snapshot(spark, root).columns)


def test_file_stats_keyed_by_manifest_name_under_escaped_paths(spark, tmp_path):
    """The stats key of every file equals its manifest name even when the
    root and a partition value need percent-encoding in a URI (a space
    here): keys taken from the encoded URI matched no file, and the
    time-range read silently kept every file."""
    from crypto_data_ingestion_module_spark.sinks.snapshot import (
        snapshot_files_in_range,
    )

    root = str(tmp_path / "lake dir")
    snapshot_upsert(
        spark,
        _candles(
            spark,
            [
                (100.0, 1.0, T0, "BTC USDT", "coinbase", "15m"),
                (110.0, 1.5, T1, "BTC USDT", "coinbase", "15m"),
                (200.0, 2.0, T2, "BTC USDT", "coinbase", "15m"),
                (50.0, 2.0, T2, "ETH-USDT", "coinbase", "15m"),
            ],
        ),
        root,
    )
    files = snapshot_files(spark, root)
    assert set(read_manifest(spark, root, 1)["file_stats"]) == set(files)

    hour = (
        dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc),
        dt.datetime(2024, 1, 1, 1, tzinfo=dt.timezone.utc),
    )
    kept = snapshot_files_in_range(spark, root, hour)
    assert 0 < len(kept) < len(files)
    got = _state(read_snapshot(spark, root, time_range=hour))
    assert [(s, ts) for s, _, ts, _, _ in got] == [
        ("BTC USDT", T0),
        ("BTC USDT", T1),
    ]


def test_schema_evolution_additive(spark, tmp_path):
    """A batch carrying a new column widens the lake: old rows read NULL,
    new data is kept (the old code silently DROPPED unknown columns),
    old versions time-travel with the old schema, and type changes are
    refused."""
    root = str(tmp_path / "snap")
    snapshot_upsert(
        spark,
        _candles(spark, [(100.0, 1.0, T0, "BTC-USDT", "coinbase", "15m")]),
        root,
    )
    evolved = _candles(
        spark, [(110.0, 1.5, T1, "BTC-USDT", "coinbase", "15m")]
    ).withColumn("trade_count", F.lit(42).cast("long"))
    v2 = snapshot_upsert(spark, evolved, root)

    cur = read_snapshot(spark, root)
    assert "trade_count" in cur.columns
    got = {
        r.timestamp: r.trade_count
        for r in cur.select("timestamp", "trade_count").collect()
    }
    assert got[T1] == 42
    assert got[T0] is None

    # merge semantics survive evolution: correcting the old row keeps the
    # widened schema and the correction wins
    snapshot_upsert(
        spark,
        _candles(spark, [(999.0, 9.0, T0, "BTC-USDT", "coinbase", "15m")]),
        root,
    )
    cur = read_snapshot(spark, root)
    row = {r.timestamp: (r.open, r.trade_count) for r in cur.collect()}
    assert row[T0] == (999.0, None)
    assert row[T1] == (110.0, 42)

    # time travel: the pre-evolution version has the old schema
    old = read_snapshot(spark, root, version=v2 - 1)
    assert "trade_count" not in old.columns

    # retyping is refused
    bad = _candles(
        spark, [(1.0, 1.0, T2, "BTC-USDT", "coinbase", "15m")]
    ).withColumn("trade_count", F.lit("oops"))
    with pytest.raises(TypeError, match="type changes"):
        snapshot_upsert(spark, bad, root)


def test_applied_id_ledger_skips_replay(spark, tmp_path):
    """Exactly-once from at-least-once: a re-delivered applied_id commits
    nothing — no version bump, no data change — even when the payload
    would otherwise supersede (higher batch_seq)."""
    root = str(tmp_path / "snap")
    snapshot_upsert(
        spark,
        _candles(spark, [(100.0, 1.0, T0, "BTC-USDT", "coinbase", "15m")]),
        root,
        applied_id="b0",
    )
    v = snapshot_upsert(
        spark,
        _candles(spark, [(200.0, 2.0, T0, "BTC-USDT", "coinbase", "15m")]),
        root,
        applied_id="b1",
    )
    before = _state(read_snapshot(spark, root))
    # replay of b1 with DIFFERENT payload: ledger wins, nothing changes
    out = snapshot_upsert(
        spark,
        _candles(spark, [(999.0, 9.0, T0, "BTC-USDT", "coinbase", "15m")]),
        root,
        applied_id="b1",
    )
    assert out == v
    assert current_version(spark, root) == v
    assert _state(read_snapshot(spark, root)) == before
    man = read_manifest(spark, root, v)
    assert sorted(man["applied_ids"]) == ["b0", "b1"]


def test_upsert_merge_input_is_manifest_pruned(spark, tmp_path):
    """The keep-last merge reads ONLY the live files a batch key can
    collide with: its own partition's files whose manifest ts range
    meets the batch's.  Pin the file selection, the read's
    inputFiles(), and that untouched partitions keep byte-identical
    manifest rows."""
    from crypto_data_ingestion_module_spark.sinks.snapshot import (
        PARTITION_COLS,
        _files_to_rewrite,
        _manifest_schema,
        _read_live,
        _touched_partitions,
        _with_date,
    )

    root = str(tmp_path / "snap")
    snapshot_upsert(
        spark,
        _candles(
            spark,
            [
                (100.0, 1.0, T0, "BTC-USDT", "coinbase", "15m"),
                (50.0, 1.0, T0, "ETH-USDT", "coinbase", "15m"),
                (70.0, 1.0, T2, "BTC-USDT", "coinbase", "15m"),
            ],
        ),
        root,
    )
    v1 = current_version(spark, root)
    m1 = read_manifest(spark, root, v1)
    assert len(m1["partitions"]) == 3

    def touched(ts):
        batch = _candles(spark, [(55.0, 2.0, ts, "ETH-USDT", "coinbase", "15m")])
        return _touched_partitions(_with_date(batch), PARTITION_COLS)

    (eth,) = [p for p in m1["partitions"] if p.startswith("symbol=ETH-USDT")]
    # a correction of the stored ETH candle collides with that file only
    rewrite = _files_to_rewrite(m1, touched(T0), append_ok=True)
    assert rewrite == m1["partitions"][eth]
    pruned = _read_live(spark, root, m1, rewrite, _manifest_schema(m1))
    got_files = {f.split(root, 1)[1].lstrip("/") for f in pruned.inputFiles()}
    assert got_files == set(rewrite)
    # a later candle of the same day collides with nothing; without the
    # partition-plus-timestamp key the whole partition is read
    assert _files_to_rewrite(m1, touched(T1), append_ok=True) == []
    assert _files_to_rewrite(m1, touched(T1), append_ok=False) == rewrite

    # and after an ETH-only upsert the other partitions' entries survive
    snapshot_upsert(
        spark,
        _candles(spark, [(55.0, 2.0, T0, "ETH-USDT", "coinbase", "15m")]),
        root,
    )
    m2 = read_manifest(spark, root, current_version(spark, root))
    for p, files in m1["partitions"].items():
        if p == eth:
            assert m2["partitions"][p] != files
        else:
            assert m2["partitions"][p] == files


def test_first_commit_keeps_last_like_any_other(spark, tmp_path):
    """A batch holding one key twice stores it once, with the same row,
    whether it bootstraps a new lake or lands in an existing one: the
    bootstrap once wrote such a batch without keep-last and stored 2."""
    dup = [
        (100.0, 1.0, T0, "BTC-USDT", "coinbase", "15m"),
        (200.0, 2.0, T0, "BTC-USDT", "coinbase", "15m"),
    ]
    fresh, existing = str(tmp_path / "fresh"), str(tmp_path / "existing")
    snapshot_upsert(spark, _candles(spark, dup), fresh)
    snapshot_upsert(
        spark, _candles(spark, [(1.0, 1.0, T2, "BTC-USDT", "coinbase", "15m")]), existing
    )
    snapshot_upsert(spark, _candles(spark, dup), existing)

    def at_t0(root):
        return _state(read_snapshot(spark, root).filter(F.col("timestamp") == T0))

    assert len(at_t0(fresh)) == 1
    assert at_t0(fresh) == at_t0(existing)
    (st,) = read_manifest(spark, fresh, 1)["file_stats"].values()
    assert st["rows"] == 1


def test_appending_upsert_opens_no_existing_file(spark, tmp_path, monkeypatch):
    """A batch past every stored candle of its partition reads no data
    file: it writes its rows as a new file and takes the file's stats
    from the batch aggregate.  A late correction opens only the file
    whose ts range covers it."""
    import crypto_data_ingestion_module_spark.sinks.snapshot as snap

    root = str(tmp_path / "snap")
    snapshot_upsert(
        spark,
        _candles(
            spark,
            [
                (100.0, 1.0, T0, "BTC-USDT", "coinbase", "15m"),
                (110.0, 1.0, T1, "BTC-USDT", "coinbase", "15m"),
            ],
        ),
        root,
    )
    (first,) = snapshot_files(spark, root)
    opened: list[str] = []
    real = snap._read_files

    def spy(spark_, root_, files, *args, **kwargs):
        opened.extend(files)
        return real(spark_, root_, files, *args, **kwargs)

    monkeypatch.setattr(snap, "_read_files", spy)
    later = T1 + dt.timedelta(minutes=15)
    snapshot_upsert(
        spark, _candles(spark, [(120.0, 1.0, later, "BTC-USDT", "coinbase", "15m")]), root
    )
    assert opened == []
    (appended,) = set(snapshot_files(spark, root)) - {first}
    st = read_manifest(spark, root, 2)["file_stats"][appended]
    us = int(later.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    assert st == {"ts_min_us": us, "ts_max_us": us, "rows": 1}

    snapshot_upsert(
        spark, _candles(spark, [(999.0, 9.0, T1, "BTC-USDT", "coinbase", "15m")]), root
    )
    # of the live files only the covering one is read; the rest of
    # ``opened`` is the stats read of the rewritten file
    assert set(opened) & {first, appended} == {first}
    monkeypatch.undo()
    got = {r.timestamp: r.open for r in read_snapshot(spark, root).collect()}
    assert got == {T0: 100.0, T1: 999.0, later: 120.0}
    assert appended in snapshot_files(spark, root)


def test_file_time_stats_runs_no_footer_job(spark, tmp_path):
    """The stats aggregate reads the new files with the table schema: a
    3-file call runs only the aggregate's own jobs, no schema-merging
    footer job."""
    from pyspark.sql import types as T

    from crypto_data_ingestion_module_spark.sinks.snapshot import (
        _file_time_stats,
    )
    from tests.conftest import count_jobs

    root = str(tmp_path / "snap")
    days = [T0 + dt.timedelta(days=d) for d in range(3)]
    snapshot_upsert(
        spark,
        _candles(spark, [(1.0, 1.0, ts, "BTC-USDT", "coinbase", "15m") for ts in days]),
        root,
    )
    man = read_manifest(spark, root, 1)
    files = snapshot_files(spark, root)
    assert len(files) == 3
    stats, jobs = count_jobs(
        spark,
        lambda: _file_time_stats(
            spark, root, files, T.StructType.fromJson(man["schema"]),
            man["partition_cols"],
        ),
    )
    assert stats == man["file_stats"]
    assert jobs <= 2, jobs


def test_manifest_tracks_schema_and_seq_high_water(spark, tmp_path, monkeypatch):
    """The manifest carries the table schema and the arrival high-water
    mark, so the hot upsert path needs no footer reads and no full-lake
    max() scan; a commit that rewrites a partition at the file cap
    carries both forward."""
    import crypto_data_ingestion_module_spark.sinks.snapshot as snap

    root = str(tmp_path / "snap")
    snapshot_upsert(
        spark,
        _candles(spark, [(100.0, 1.0, T0, "BTC-USDT", "coinbase", "15m")]),
        root,
        applied_id="a",
    )
    snapshot_upsert(
        spark,
        _candles(spark, [(101.0, 1.0, T1, "BTC-USDT", "coinbase", "15m")]),
        root,
        applied_id="b",
    )
    v = current_version(spark, root)
    man = read_manifest(spark, root, v)
    assert man["max_ingest_seq"] == 1  # bootstrap=0, second batch=1
    names = {f["name"] for f in man["schema"]["fields"]}
    assert {"symbol", "timestamp", "open", "_ingest_seq", "date"} <= names

    # a cap-triggered rewrite of the T0 day carries the ledger, the
    # schema and a monotone seq high-water
    monkeypatch.setattr(snap, "MAX_FILES_PER_PARTITION", 2)
    (day,) = man["partitions"].values()
    assert len(day) == 2  # the second batch appended
    v3 = snapshot_upsert(
        spark,
        _candles(spark, [(102.0, 1.0, T0, "BTC-USDT", "coinbase", "15m")]),
        root,
        applied_id="c",
    )
    man3 = read_manifest(spark, root, v3)
    (day3,) = man3["partitions"].values()
    assert len(day3) == 1
    assert man3["applied_ids"] == ["a", "b", "c"]
    assert man3["max_ingest_seq"] == man["max_ingest_seq"] + 1
    assert man3["schema"] == man["schema"]


def test_snapshot_delete_rewrites_only_matching_partitions(spark, tmp_path):
    from crypto_data_ingestion_module_spark.sinks.snapshot import (
        snapshot_delete,
    )

    root = str(tmp_path / "snap")
    snapshot_upsert(
        spark,
        _candles(
            spark,
            [
                (100.0, 1.0, T0, "BTC-USDT", "coinbase", "15m"),
                (110.0, 1.5, T1, "BTC-USDT", "coinbase", "15m"),
                (50.0, 2.0, T0, "ETH-USDT", "coinbase", "15m"),
                (70.0, 1.0, T2, "BTC-USDT", "coinbase", "15m"),
            ],
        ),
        root,
    )
    v1 = current_version(spark, root)
    m1 = read_manifest(spark, root, v1)
    before = _state(read_snapshot(spark, root))

    v2, n = snapshot_delete(
        spark, root, F.col("open") >= 100.0, applied_id="gdpr-1"
    )
    assert (v2, n) == (v1 + 1, 2)
    after = _state(read_snapshot(spark, root))
    assert [r[3] for r in after] == [70.0, 50.0]  # sorted by symbol, date

    # untouched partitions (ETH day-1, BTC day-2) keep identical entries
    m2 = read_manifest(spark, root, v2)
    for p, files in m1["partitions"].items():
        if p.startswith("symbol=BTC-USDT") and "date=20240101" in p:
            assert m2["partitions"].get(p, []) != files
        else:
            assert m2["partitions"][p] == files

    # pre-delete version still time-travels (GDPR clock = vacuum)
    assert _state(read_snapshot(spark, root, version=v1)) == before

    # replay via the ledger: no-op, no version bump
    assert snapshot_delete(
        spark, root, F.col("open") >= 0.0, applied_id="gdpr-1"
    ) == (v2, 0)

    # no-match predicate: version unchanged
    assert snapshot_delete(spark, root, F.col("open") > 1e9) == (v2, 0)


def test_snapshot_delete_null_predicate_keeps_row(spark, tmp_path):
    """SQL DELETE semantics: rows where the predicate is NULL stay."""
    from crypto_data_ingestion_module_spark.sinks.snapshot import (
        snapshot_delete,
    )

    root = str(tmp_path / "snap")
    df = _candles(
        spark,
        [
            (100.0, 1.0, T0, "BTC-USDT", "coinbase", "15m"),
            (110.0, 1.0, T1, "BTC-USDT", "coinbase", "15m"),
        ],
    ).withColumn(
        "note",
        F.when(F.col("open") > 105.0, F.lit("hi")).otherwise(
            F.lit(None).cast("string")
        ),
    )
    snapshot_upsert(spark, df, root)
    _, n = snapshot_delete(spark, root, F.col("note") != "hi")
    assert n == 0  # NULL != 'hi' is NULL, not TRUE — nothing deleted
    _, n = snapshot_delete(spark, root, F.col("note") == "hi")
    assert n == 1
    assert read_snapshot(spark, root).count() == 1


def test_append_widens_schema_and_refuses_retype(spark, tmp_path):
    """ADVICE r5 (medium): the append path honors the same additive
    schema-evolution contract as upsert — new columns reach the manifest
    schema (so the explicit-schema read path keeps them), retypes raise."""
    from crypto_data_ingestion_module_spark.sinks.snapshot import (
        PARTITION_COLS,
        snapshot_append,
    )

    root = str(tmp_path / "snap")
    snapshot_upsert(
        spark,
        _candles(spark, [(100.0, 1.0, T0, "BTC-USDT", "coinbase", "15m")]),
        root,
    )
    wide = _candles(
        spark, [(110.0, 1.5, T1, "BTC-USDT", "coinbase", "15m")]
    ).withColumn("venue_tier", F.lit("tier1")).withColumn(
        "date", F.date_format("timestamp", "yyyyMMdd")
    )
    snapshot_append(spark, root, wide, PARTITION_COLS)
    out = read_snapshot(spark, root)
    assert "venue_tier" in out.columns  # survived the explicit-schema read
    got = {r.timestamp: r.venue_tier for r in out.collect()}
    assert got == {T0: None, T1: "tier1"}

    retyped = wide.withColumn("venue_tier", F.lit(7))
    with pytest.raises(TypeError, match="venue_tier"):
        snapshot_append(spark, root, retyped, PARTITION_COLS)

    # a write partitioned differently from the lake is refused outright
    with pytest.raises(ValueError, match="partitioned by"):
        snapshot_append(spark, root, wide, ["date"])


def test_append_advances_seq_high_water(spark, tmp_path):
    """ADVICE r5: a merged/appended frame carrying _ingest_seq above the
    recorded high-water must raise max_ingest_seq, or a later upsert
    stamps a stale batch_seq and keep-last prefers old rows."""
    from crypto_data_ingestion_module_spark.operators.merge import INGEST_SEQ
    from crypto_data_ingestion_module_spark.sinks.snapshot import (
        PARTITION_COLS,
        snapshot_append,
    )

    root = str(tmp_path / "snap")
    snapshot_upsert(
        spark,
        _candles(spark, [(100.0, 1.0, T0, "BTC-USDT", "coinbase", "15m")]),
        root,
    )  # max_ingest_seq == 1
    carried = (
        _candles(spark, [(110.0, 1.5, T1, "BTC-USDT", "coinbase", "15m")])
        .withColumn(INGEST_SEQ, F.lit(100).cast("long"))
        .withColumn("date", F.date_format("timestamp", "yyyyMMdd"))
    )
    v = snapshot_append(spark, root, carried, PARTITION_COLS)
    assert read_manifest(spark, root, v)["max_ingest_seq"] == 100
    # the correction now stamps batch_seq 101 and wins keep-last
    snapshot_upsert(
        spark,
        _candles(spark, [(999.0, 9.9, T1, "BTC-USDT", "coinbase", "15m")]),
        root,
    )
    got = {r.timestamp: r.open for r in read_snapshot(spark, root).collect()}
    assert got[T1] == 999.0


def test_empty_append_commits_no_version(spark, tmp_path):
    """An empty frame appended to an existing lake writes no file and
    leaves the version where it was, like an empty upsert or merge."""
    from crypto_data_ingestion_module_spark.sinks.snapshot import snapshot_append

    root = str(tmp_path / "snap")
    df = spark.createDataFrame(
        [(T0, "a", 1.0), (T1, "a", 2.0), (T2, "b", 3.0)],
        "bucket_ts timestamp, sym string, v double",
    ).withColumn("date", F.to_date("bucket_ts"))
    assert snapshot_append(spark, root, df, ["date"], ts_col="bucket_ts") == 1
    for _ in range(2):
        v = snapshot_append(spark, root, df.limit(0), ["date"], ts_col="bucket_ts")
        assert v == 1
    assert current_version(spark, root) == 1
    assert read_snapshot(spark, root).count() == 3


def test_delete_threads_ts_col_for_rewritten_file_stats(spark, tmp_path):
    """ADVICE r5: deleting from a lake keyed on a non-default time axis
    keeps per-file time stats for the rewritten files (pruning intact)."""
    from crypto_data_ingestion_module_spark.sinks.snapshot import (
        snapshot_append,
        snapshot_delete,
    )

    root = str(tmp_path / "snap")
    df = spark.createDataFrame(
        [(T0, "a", 1.0), (T1, "a", 2.0), (T2, "b", 3.0)],
        "bucket_ts timestamp, sym string, v double",
    ).withColumn("date", F.to_date("bucket_ts"))
    snapshot_append(spark, root, df, ["date"], ts_col="bucket_ts")
    v, n = snapshot_delete(
        spark,
        root,
        F.col("sym") == "a",
        partition_cols=["date"],
        ts_col="bucket_ts",
    )
    assert n == 2
    man = read_manifest(spark, root, v)
    live = {f for fl in man["partitions"].values() for f in fl}
    assert live  # T2 row's partition survives (one rewritten, one kept)
    for f in live:
        assert f in man["file_stats"], f
        assert man["file_stats"][f]["ts_min_us"] > 0


def test_concurrent_writer_stress_with_reader_and_vacuum(spark, tmp_path):
    """VERDICT r5 item 4: N threads upserting disjoint AND overlapping
    partitions concurrently; a reader loop pins version monotonicity and
    never observes a torn snapshot; vacuum races a reader of an old
    version inside its retention window.  Every writer's row must land
    (optimistic retry recomputes a lost race against the new current
    snapshot — no write is silently dropped)."""
    import threading

    root = str(tmp_path / "snap")
    snapshot_upsert(
        spark,
        _candles(
            spark,
            [(100.0 + i, 1.0, T0, f"S{i}-USDT", "coinbase", "15m")
             for i in range(4)],
        ),
        root,
    )

    n_writers = 8
    errors: list[BaseException] = []
    stop = threading.Event()

    def writer(i: int) -> None:
        # i % 4 → two threads share each symbol partition (overlap);
        # distinct timestamps → distinct logical keys, so a correct
        # retry loop preserves every row
        try:
            snapshot_upsert(
                spark,
                _candles(
                    spark,
                    [(1000.0 + i, 2.0, T0 + dt.timedelta(minutes=i + 1),
                      f"S{i % 4}-USDT", "coinbase", "15m")],
                ),
                root,
                retries=32,
            )
        except BaseException as e:  # surfaced after join
            errors.append(e)

    def reader() -> None:
        last_v = 0
        try:
            while not stop.is_set():
                v = current_version(spark, root)
                assert v is not None and v >= last_v, (v, last_v)
                last_v = v
                # a torn snapshot would read missing files or a row mix
                # from two versions; explicit-manifest reads make this a
                # hard failure rather than silent wrongness
                n = read_snapshot(spark, root, v).count()
                assert n >= 4, n
        except BaseException as e:
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(n_writers)]
    rt = threading.Thread(target=reader)
    rt.start()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    stop.set()
    rt.join()
    assert not errors, errors

    # every writer's row landed exactly once
    final = read_snapshot(spark, root)
    assert final.count() == 4 + n_writers
    opens = sorted(
        r.open for r in final.filter(F.col("timestamp") > T0).collect()
    )
    assert opens == [1000.0 + i for i in range(n_writers)]
    # the version chain is gap-free: one commit per successful write
    v_now = current_version(spark, root)
    for v in range(1, v_now + 1):
        assert read_manifest(spark, root, v)["version"] == v

    # vacuum racing a reader of an old version INSIDE the retention
    # window: keep=3 retains v_now-2..v_now; reading v_now-1 while
    # vacuum deletes pre-window files must succeed
    target = v_now - 1
    pre = read_snapshot(spark, root, target).count()
    results: list[int] = []

    def old_reader() -> None:
        try:
            for _ in range(5):
                results.append(read_snapshot(spark, root, target).count())
        except BaseException as e:
            errors.append(e)

    ot = threading.Thread(target=old_reader)
    ot.start()
    vacuum(spark, root, keep=3)
    ot.join()
    assert not errors, errors
    assert results == [pre] * 5
    # and the pre-window version is really gone (files collected)
    with pytest.raises(Exception):
        read_manifest(spark, root, 1)


def test_applied_ids_ledger_is_bounded(spark, tmp_path, monkeypatch):
    """VERDICT r6 item 3: the replay ledger is a retention HORIZON, not
    an O(all-batches-ever) list rewritten into every manifest — the
    commit path must stay O(retain) at streaming cadence."""
    import crypto_data_ingestion_module_spark.sinks.snapshot as snap

    monkeypatch.setattr(snap, "APPLIED_IDS_RETAIN", 8)

    # 1,000-commit loop over the ledger fold itself: bounded throughout
    man = {"applied_ids": [], "applied_ids_evicted": 0}
    for i in range(1000):
        ids, evicted = snap._applied_ids_next(man, f"batch-{i:04d}")
        man = {"applied_ids": ids, "applied_ids_evicted": evicted}
        assert len(man["applied_ids"]) <= 8
    assert man["applied_ids"] == [f"batch-{i:04d}" for i in range(992, 1000)]
    assert man["applied_ids_evicted"] == 992
    # the always-0 frozen-prefix count that older manifests hold is ignored
    assert snap._applied_ids_next(dict(man, applied_ids_frozen_n=0), "x") == (
        snap._applied_ids_next(man, "x")
    )

    # integration: a real lake under commit pressure keeps a bounded
    # arrival-ordered ledger and still rejects an IN-horizon duplicate
    # after older ids have been evicted
    root = str(tmp_path / "snap")
    for i in range(12):
        snapshot_upsert(
            spark,
            _candles(
                spark, [(float(i), 1.0, T0, "BTC-USDT", "coinbase", "15m")]
            ),
            root,
            applied_id=f"b{i:02d}",
        )
    v = current_version(spark, root)
    man = read_manifest(spark, root, v)
    assert man["applied_ids"] == [f"b{i:02d}" for i in range(4, 12)]
    assert man["applied_ids_evicted"] == 4
    out = snapshot_upsert(
        spark,
        _candles(spark, [(999.0, 9.0, T0, "BTC-USDT", "coinbase", "15m")]),
        root,
        applied_id="b05",
    )
    assert out == v  # replay: no version bump
    assert not any(
        o == 999.0 for (_, _, _, o, _) in _state(read_snapshot(spark, root))
    )


def test_evicted_applied_id_reapplies_and_keep_last_absorbs(
    spark, tmp_path, monkeypatch
):
    """Beyond the horizon the ledger forgets: a replay of an EVICTED id
    re-applies (documented contract) — and on the upsert path keep-last
    absorbs it, so lake content stays correct as long as the true replay
    window fits inside APPLIED_IDS_RETAIN."""
    import crypto_data_ingestion_module_spark.sinks.snapshot as snap

    monkeypatch.setattr(snap, "APPLIED_IDS_RETAIN", 2)
    root = str(tmp_path / "snap")
    for i, aid in enumerate(["b0", "b1", "b2", "b3"]):
        snapshot_upsert(
            spark,
            _candles(
                spark, [(100.0 + i, 1.0, T0, "BTC-USDT", "coinbase", "15m")]
            ),
            root,
            applied_id=aid,
        )
    v = current_version(spark, root)
    assert read_manifest(spark, root, v)["applied_ids"] == ["b2", "b3"]
    # b0 was evicted: its replay is NOT deduplicated (version bumps) but
    # its stale payload carries a fresh higher batch_seq, so keep-last
    # keeps the lake at the replayed payload — idempotent content only
    # if the payload is idempotent; the retention horizon is the real
    # exactly-once boundary and must cover the delivery replay window.
    out = snapshot_upsert(
        spark,
        _candles(spark, [(100.0, 1.0, T0, "BTC-USDT", "coinbase", "15m")]),
        root,
        applied_id="b0",
    )
    assert out == v + 1


def test_beyond_horizon_replay_contract_upsert_and_append(
    spark, tmp_path, monkeypatch
):
    """VERDICT r7 item 7: drive a replay from BEYOND the retention
    horizon through both write paths and pin the documented contract —
    upsert: keep-last absorbs the re-apply, content stays idempotent for
    an idempotent payload; append: the batch duplicates (visible rows),
    which is exactly what APPLIED_IDS_RETAIN's docstring promises."""
    import crypto_data_ingestion_module_spark.sinks.snapshot as snap
    from crypto_data_ingestion_module_spark.sinks.snapshot import (
        snapshot_append,
    )

    monkeypatch.setattr(snap, "APPLIED_IDS_RETAIN", 2)

    # --- upsert path -------------------------------------------------
    root_u = str(tmp_path / "up")
    b0 = _candles(spark, [(100.0, 1.0, T0, "BTC-USDT", "coinbase", "15m")])
    snapshot_upsert(spark, b0, root_u, applied_id="b0")
    for i, aid in enumerate(["b1", "b2", "b3"]):  # evicts b0 (horizon=2)
        snapshot_upsert(
            spark,
            _candles(
                spark, [(200.0 + i, 1.0, T1, "BTC-USDT", "coinbase", "15m")]
            ),
            root_u,
            applied_id=aid,
        )
    v = current_version(spark, root_u)
    assert "b0" not in read_manifest(spark, root_u, v)["applied_ids"]
    before = _state(read_snapshot(spark, root_u))
    out = snapshot_upsert(spark, b0, root_u, applied_id="b0")  # replay
    assert out == v + 1  # re-applied, not deduplicated
    # identical payload, keep-last key (symbol, timestamp): content is
    # byte-for-byte what it was — idempotent output
    assert _state(read_snapshot(spark, root_u)) == before

    # --- append path -------------------------------------------------
    root_a = str(tmp_path / "ap")
    a0 = _candles(spark, [(500.0, 5.0, T0, "BTC-USDT", "coinbase", "15m")])
    from crypto_data_ingestion_module_spark.sinks.snapshot import (
        _with_date,
    )

    a0 = _with_date(a0)
    pcols = ("date",)
    snapshot_append(spark, root_a, a0, partition_cols=pcols, applied_id="a0")
    for i, aid in enumerate(["a1", "a2", "a3"]):  # evicts a0
        snapshot_append(
            spark,
            root_a,
            _with_date(
                _candles(
                    spark,
                    [(600.0 + i, 1.0, T1, "BTC-USDT", "coinbase", "15m")],
                )
            ),
            partition_cols=pcols,
            applied_id=aid,
        )
    n_before = read_snapshot(spark, root_a).count()
    # in-horizon replay: still a no-op
    va = current_version(spark, root_a)
    assert (
        snapshot_append(
            spark,
            root_a,
            _with_date(
                _candles(
                    spark,
                    [(602.0, 1.0, T1, "BTC-USDT", "coinbase", "15m")],
                )
            ),
            partition_cols=pcols,
            applied_id="a3",
        )
        == va
    )
    assert read_snapshot(spark, root_a).count() == n_before
    # beyond-horizon replay: re-applies — DOCUMENTED duplication
    snapshot_append(spark, root_a, a0, partition_cols=pcols, applied_id="a0")
    after = read_snapshot(spark, root_a)
    assert after.count() == n_before + 1
    assert after.where(F.col("open") == 500.0).count() == 2


def test_snapshot_overwrite_replaces_everything_and_keeps_ledger(
    spark, tmp_path
):
    """INSERT OVERWRITE: one atomic manifest swap replaces the whole
    table — no partition of the old content survives — while the replay
    ledger carries across, so a re-delivered refresh commits nothing."""
    from crypto_data_ingestion_module_spark.sinks.snapshot import (
        snapshot_overwrite,
    )

    root = str(tmp_path / "art")
    a = spark.range(5).withColumn("shard", F.lit("all"))
    v1 = snapshot_overwrite(spark, root, a, ("shard",), applied_id="fp-1")
    assert v1 == 1
    b = spark.range(100, 102).withColumn("shard", F.lit("all"))
    v2 = snapshot_overwrite(spark, root, b, ("shard",), applied_id="fp-2")
    assert v2 == 2
    got = sorted(r.id for r in read_snapshot(spark, root).collect())
    assert got == [100, 101]  # old rows gone wholly
    man = read_manifest(spark, root, v2)
    assert man["applied_ids"] == ["fp-1", "fp-2"]
    # replayed refresh: no version bump, content untouched
    c = spark.range(999, 1000).withColumn("shard", F.lit("all"))
    out = snapshot_overwrite(spark, root, c, ("shard",), applied_id="fp-2")
    assert out == v2
    assert current_version(spark, root) == v2
    # time travel still serves the pre-overwrite snapshot
    old = sorted(r.id for r in read_snapshot(spark, root, v1).collect())
    assert old == [0, 1, 2, 3, 4]


def test_publish_if_absent_never_replaces_a_landed_manifest(spark, tmp_path):
    """The commit linearization point (ADVICE-class r15 finding, caught
    by the writer-stress test under full-suite load): Hadoop's LOCAL
    rename is a client-side exists-check + POSIX rename(2), and
    rename(2) silently REPLACES an existing destination — two commit
    racers could both pass the check inside Hadoop's rename and both
    "succeed", the second replacing the first's manifest with no error
    anywhere (one upsert lost).  The publish is now link(2)-based on
    file: schemes: publishing onto an existing final must raise
    CommitConflict and leave the landed manifest byte-identical."""
    import pytest as _pytest

    from crypto_data_ingestion_module_spark.sinks.snapshot import (
        CommitConflict,
        _fs,
        _publish_if_absent,
    )

    vdir = str(tmp_path / "_versions")
    Path, fs = _fs(spark, vdir)
    fs.mkdirs(Path(vdir))

    def _write(name, payload):
        p = Path(f"{vdir}/{name}")
        out = fs.create(p, True)
        try:
            out.write(payload)
        finally:
            out.close()
        return p

    final = _write("v00000001.json", b'{"winner": "A"}')
    # a racer that already passed commit_version's exists-check now
    # publishes its own tmp onto the same final
    tmp = _write(".tmp-racer.json", b'{"loser": "B"}')
    with _pytest.raises(CommitConflict):
        _publish_if_absent(spark, fs, tmp, final)
    # the landed manifest is untouched and the loser's tmp is cleaned up
    assert open(f"{vdir}/v00000001.json", "rb").read() == b'{"winner": "A"}'
    assert not fs.exists(Path(f"{vdir}/.tmp-racer.json"))
    # and a publish onto a genuinely absent final still lands
    tmp2 = _write(".tmp-c.json", b'{"winner": "C"}')
    final2 = Path(f"{vdir}/v00000002.json")
    _publish_if_absent(spark, fs, tmp2, final2)
    assert open(f"{vdir}/v00000002.json", "rb").read() == b'{"winner": "C"}'


def test_partition_key_matches_the_directories_partitionBy_writes(
    spark, tmp_path
):
    """The manifest keys of touched partitions are built on the driver;
    they must equal the directory names Spark's writer escapes, for every
    ASCII character, NULL and the empty string."""
    from crypto_data_ingestion_module_spark.sinks.snapshot import (
        _partition_key,
        _partition_values,
    )

    values = [f"a{chr(c)}b" for c in range(1, 128)]
    values += ["BTC/USDT", "é/ü", "", None]
    out = str(tmp_path / "escaped")
    spark.createDataFrame(
        [(v, i) for i, v in enumerate(values)], "p string, i int"
    ).write.partitionBy("p").parquet(out)
    written = {d for d in os.listdir(out) if d.startswith("p=")}
    assert written == {_partition_key({"p": v}, ["p"]) for v in values}
    for v in values:
        # NULL and the empty string share the default partition
        assert _partition_values(_partition_key({"p": v}, ["p"])) == {
            "p": v or None
        }


def test_upsert_and_delete_find_escaped_and_null_partitions(spark, tmp_path):
    """A second keep-last upsert of the same key replaces the first even
    when the partition value is Hive-escaped in the path (``BTC/USDT``,
    the ccxt symbol format) or NULL; keyed by the raw value, the old
    file stayed live next to its rewrite and the key was stored twice.
    Delete finds those partitions too."""
    from crypto_data_ingestion_module_spark.sinks.snapshot import (
        snapshot_delete,
    )

    root = str(tmp_path / "snap")
    symbols = ["BTC/USDT", "BTC:USDT", None, "BTC-USDT"]
    for open_ in (100.0, 200.0):
        for sym in symbols:
            snapshot_upsert(
                spark, _candles(spark, [(open_, 1.0, T0, sym, "cb", "15m")]), root
            )
    got = sorted(
        (r.symbol or "", r.open)
        for r in read_snapshot(spark, root).select("symbol", "open").collect()
    )
    assert got == sorted((s or "", 200.0) for s in symbols)

    _, n = snapshot_delete(
        spark, root, F.col("symbol").isNull() | (F.col("symbol") == "BTC/USDT")
    )
    assert n == 2
    left = {r.symbol for r in read_snapshot(spark, root).collect()}
    assert left == {"BTC:USDT", "BTC-USDT"}


def _scan_group_stats(spark, root, cols):
    """``snapshot_group_stats`` computed the slow way: a lake scan."""
    return {
        tuple(r[c] for c in cols): (r.hi, r.n)
        for r in read_snapshot(spark, root)
        .groupBy(*cols)
        .agg(
            F.max(F.unix_micros("timestamp")).alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }


def test_group_stats_equal_a_scan_after_every_kind_of_commit(
    spark, tmp_path, monkeypatch
):
    """Per-series max timestamp and row count from the manifest alone
    equal the grouped scan after a cold backfill, a keep-last upsert that
    rewrites partitions, an append that adds a second file to one, an
    appending upsert, a late correction that rewrites only the file it
    collides with, a rewrite at the file cap and a delete."""
    import crypto_data_ingestion_module_spark.sinks.snapshot as snap
    from crypto_data_ingestion_module_spark.pipelines import SERIES, backfill
    from crypto_data_ingestion_module_spark.sinks.snapshot import (
        PARTITION_COLS,
        snapshot_append,
        snapshot_delete,
        snapshot_group_stats,
    )
    from crypto_data_ingestion_module_spark.sources.fetch import (
        MockExchangeAdapter,
    )

    start_ms = 1_704_067_200_000  # T0
    root = str(tmp_path / "lake")

    def check():
        man = read_manifest(spark, root, current_version(spark, root))
        for cols in (SERIES, ("exchange",), PARTITION_COLS):
            assert snapshot_group_stats(man, cols) == _scan_group_stats(
                spark, root, cols
            ), cols

    backfill(
        spark,
        spark.createDataFrame([("BTC-USDT", start_ms)], "symbol string, start_ms long"),
        spark.createDataFrame([("6h", 4)], "interval string, candles_per_day long"),
        start_ms + 2 * 86_400_000,
        MockExchangeAdapter(),
        root,
    )
    check()
    snapshot_upsert(
        spark,
        _candles(
            spark,
            [
                (999.0, 1.0, T0, "BTC-USDT", "kucoin", "6h"),  # correction
                (5.0, 1.0, T0, "ETH/USDT", "kucoin", "6h"),  # new series
            ],
        ),
        root,
    )
    check()
    snapshot_append(
        spark,
        root,
        read_snapshot(spark, root)
        .filter((F.col("exchange") == "kucoin") & (F.col("symbol") == "BTC-USDT"))
        .withColumn("timestamp", F.col("timestamp") + F.expr("INTERVAL 1 MINUTE")),
        PARTITION_COLS,
    )
    check()
    kucoin = "symbol=BTC-USDT/interval=6h/data_type=spot/exchange=kucoin/date=20240101"

    def day_files():
        man = read_manifest(spark, root, current_version(spark, root))
        return man["partitions"][kucoin]

    late = T0 + dt.timedelta(hours=23)
    held = day_files()
    def upsert_late(open_):
        snapshot_upsert(
            spark, _candles(spark, [(open_, 1.0, late, "BTC-USDT", "kucoin", "6h")]), root
        )

    upsert_late(7.0)
    check()
    (appended,) = set(day_files()) - set(held)
    assert set(held) < set(day_files())
    upsert_late(8.0)
    check()
    assert set(held) < set(day_files()) and appended not in day_files()
    monkeypatch.setattr(snap, "MAX_FILES_PER_PARTITION", len(day_files()))
    upsert_late(9.0)
    check()
    assert len(day_files()) == 1
    _, n = snapshot_delete(spark, root, F.col("symbol") == "ETH/USDT")
    assert n == 1
    check()


def test_group_stats_fall_back_without_row_counts(spark, tmp_path):
    """The manifest's per-series max timestamp and row count equal the
    scan's, and grouping by a column that is not a partition column is
    refused."""
    from crypto_data_ingestion_module_spark.sinks.snapshot import (
        snapshot_group_stats,
    )

    root = str(tmp_path / "snap")
    snapshot_upsert(
        spark,
        _candles(
            spark,
            [
                (100.0, 1.0, T0, "BTC-USDT", "coinbase", "15m"),
                (110.0, 1.5, T2, "BTC-USDT", "coinbase", "15m"),
            ],
        ),
        root,
    )
    man = read_manifest(spark, root, 1)
    assert snapshot_group_stats(man, ["symbol"]) == _scan_group_stats(
        spark, root, ["symbol"]
    )
    with pytest.raises(ValueError, match="partition columns"):
        snapshot_group_stats(man, ["open"])
