"""Snapshot-isolated lake: versioned manifests + an atomic version log.

Every table this engine keeps commits through this one protocol, each
writer a thin attempt over one shared transaction (``_transact``): the
candle lake (K1/K2: the reference's partitioned day-files and keep-last
MERGE, crypto_collector.py:514-558) by ``snapshot_upsert``, the rollup
partials by ``snapshot_merge_partitions``, the sketch, IVM, streamed
ANN, streamed curation and md5-dedup stores by ``snapshot_append``, and
served artifacts and sketch partials by ``snapshot_overwrite`` behind
the fingerprint gate ``snapshot_refresh``; ``snapshot_delete`` removes
rows.  The reference overwrites its day-file in place (542-556): one
process, no concurrent readers, and a kill mid-write truncates the
file.

This module gives the standard 100 TB answer — readers never list data
directories; they resolve a MANIFEST through a version log:

    root/
      data/<batch-uuid>/...partition dirs.../*.parquet   (immutable)
      _versions/v00000001.json                            (the log)
      _versions/v00000002.json

* Data files are write-once: every commit writes NEW files under a fresh
  ``data/<uuid>/`` dir and never mutates or deletes live files.  A
  keep-last upsert appends: it writes the batch plus the re-merged
  content of only those live files a batch key can collide with (the
  file's manifest ``[ts_min_us, ts_max_us]`` holds a batch timestamp of
  its partition), and carries every other file over unchanged.  A live
  cycle whose candles all lie past the partition's newest file reads no
  data file at all.  A partition that reaches
  ``MAX_FILES_PER_PARTITION`` files is rewritten whole by the next
  upsert that lands in it, which bounds the files a reader opens.
* A manifest (one JSON version file) lists every data file of the
  snapshot, grouped by partition.  The NEW manifest = previous manifest
  minus the rewritten files, plus the new files.
* Commit = making ``v{N+1}.json`` visible in one atomic step: the content
  is written to a hidden temp name and RENAMED to its final name (rename
  of a fully-written file is atomic on HDFS/POSIX).  Readers list
  ``_versions``, take the max ``v*.json``, and read exactly that file set
  — they see the whole old snapshot or the whole new one, never a mix,
  no matter when they race the writer.
* Concurrency control between WRITERS is last-writer-wins on version N+1
  via rename; a lost manifest race loses no data files (they are
  immutable) and is detected by ``commit_version`` re-listing after the
  rename.  On object stores without atomic rename-if-absent, plug a CAS
  log store here (the Delta/Iceberg approach); the read path is unchanged.
* Old versions stay readable (time travel) until ``vacuum`` drops
  manifests older than ``keep`` and deletes data files no retained
  manifest references.

A manifest has one format, built by ``_transact`` for every writer:

* ``version``: its own number;
* ``partitions``: the live data files, grouped by ``c=v/...`` partition
  key;
* ``file_stats``: per file, ``ts_min_us``, ``ts_max_us`` and ``rows`` of
  the write's time column (empty for a lake without one);
* ``schema``: the table StructType as JSON, so no read opens a footer;
* ``partition_cols``: the lake's partitioning;
* ``applied_ids``: the replay ledger, the newest ``APPLIED_IDS_RETAIN``
  batch ids in arrival order, and ``applied_ids_evicted``, how many ids
  aged out of it;
* ``max_ingest_seq``: the high-water ``_ingest_seq`` of the rows, once a
  committed batch carried that column.

Readers ignore any other key.

At 100 TB the manifest is bounded by file count, not rows, and the upsert
reads and writes only the files its keys can collide with.  Exactly-once
under at-least-once delivery comes from one place: the manifest's
``applied_ids`` ledger.
"""

from __future__ import annotations

import functools
import json
import re
import uuid
from collections.abc import Callable, Iterator, Sequence
from contextlib import contextmanager
from typing import Any, NamedTuple
from urllib.parse import unquote, urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crypto_data_ingestion_module_spark.operators.dedup import dedup_keep_last
from crypto_data_ingestion_module_spark.operators.merge import INGEST_SEQ
_VERSIONS = "_versions"

#: The candle lake's Hive partitioning, the reference's day-file path
#: ``{symbol}/{interval}/{data_type}/{exchange}/{date}_...parquet``
#: (crypto_collector.py:514-521), and its keep-last MERGE key (542-556).
PARTITION_COLS = ("symbol", "interval", "data_type", "exchange", "date")
LOGICAL_KEY = ("symbol", "interval", "data_type", "exchange", "timestamp")


def _with_date(df: DataFrame) -> DataFrame:
    """Derive the yyyyMMdd partition date (reference 533)."""
    if "date" in df.columns:
        return df
    return df.withColumn("date", F.date_format("timestamp", "yyyyMMdd"))

#: Replay-ledger retention horizon: each manifest keeps only the NEWEST
#: this-many ``applied_ids`` (arrival order).  Unbounded, the ledger is
#: O(all batches ever) rewritten into every manifest — at streaming
#: cadence that makes the commit path itself the scale bottleneck long
#: before data volume does.  512 covers any realistic at-least-once
#: replay window (structured streaming re-delivers only the last
#: uncommitted batch; external backfill drivers retry the last few
#: chunks); a replay arriving from BEYOND the horizon re-applies, which
#: keep-last upsert semantics absorb and append-only callers must treat
#: as the documented contract.  Monkeypatch for tests.
APPLIED_IDS_RETAIN = 512

#: A touched partition already holding this many live files is rewritten
#: whole by the upsert that lands in it.  Appending upserts add one file
#: per commit, so without a cap a 15-minute live series would leave 96
#: one-row files per day; the cap bounds the files a reader opens per
#: partition and the manifest size, at one rewrite per this-many commits.
MAX_FILES_PER_PARTITION = 16


def _applied_ids_next(
    manifest: dict, applied_id: str | None
) -> tuple[list[str], int]:
    """The next manifest's bounded replay ledger: ``(ids, evicted)``, the
    arrival-ordered ids with ``applied_id`` appended, truncated to the
    newest ``APPLIED_IDS_RETAIN``, and the cumulative count of ids ever
    evicted (carried forward so operators can see that the ledger has
    compacted)."""
    ids = list(manifest.get("applied_ids", []))
    if applied_id is not None and applied_id not in ids:
        ids.append(applied_id)
    evicted = max(0, len(ids) - APPLIED_IDS_RETAIN)
    return ids[evicted:], int(manifest.get("applied_ids_evicted", 0)) + evicted


class CommitConflict(RuntimeError):
    """A concurrent writer won the version race.  Both loss modes raise
    this: the pre-write existence check ("already committed") and the
    losing rename itself (two writers can pass the existence check
    together; exactly one rename lands).  Retry wrappers catch THIS type
    — matching on message text once missed the rename-loser mode and a
    lost race under real thread concurrency surfaced as a hard failure
    instead of a recompute (caught by the writer-stress test)."""


def _fs(spark: SparkSession, path_str: str):
    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    fs = Path(path_str).getFileSystem(spark._jsc.hadoopConfiguration())
    return Path, fs


def _partition_of(rel_file: str, partition_cols: Sequence[str]) -> str:
    """``data/<uuid>/symbol=BTC/.../date=x/part-...parquet`` → the
    ``symbol=BTC/.../date=x`` partition key string."""
    parts = [p for p in rel_file.split("/") if "=" in p]
    return "/".join(parts)


#: The characters Spark's ``ExternalCatalogUtils.escapePathName``
#: percent-encodes in a Hive partition directory name (the POSIX set:
#: Windows adds space, ``<``, ``>`` and ``|``), and the directory name of
#: a NULL or empty value.
_PATH_ESCAPED = frozenset(
    [chr(c) for c in range(0x01, 0x20)] + list('"#%\'*/:=?\\\x7f{[]^')
)
_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _escape_path_name(s: str) -> str:
    return "".join(f"%{ord(c):02X}" if c in _PATH_ESCAPED else c for c in s)


def _unescape_path_name(s: str) -> str:
    return re.sub(r"%([0-9A-Fa-f]{2})", lambda m: chr(int(m[1], 16)), s)


def _partition_key(row, partition_cols: Sequence[str]) -> str:
    """A row's partition values as the manifest's ``c=v/...`` key: the
    directory names ``partitionBy`` writes.  The values must be the
    columns cast to string in Spark (``_partition_strings``), as the
    writer casts them."""
    return "/".join(
        f"{_escape_path_name(c)}="
        + (_escape_path_name(row[c]) if row[c] else _DEFAULT_PARTITION)
        for c in partition_cols
    )


def _partition_strings(partition_cols: Sequence[str]) -> list:
    return [F.col(c).cast("string").alias(c) for c in partition_cols]


def _partition_values(key: str) -> dict[str, str | None]:
    """The inverse of :func:`_partition_key`: a manifest key's decoded
    values by column, NULL for the default partition."""
    out: dict[str, str | None] = {}
    for part in key.split("/"):
        c, _, v = part.partition("=")
        out[_unescape_path_name(c)] = (
            None if v == _DEFAULT_PARTITION else _unescape_path_name(v)
        )
    return out


@contextmanager
def evaluated_once(df: DataFrame) -> Iterator[DataFrame]:
    """Cut ``df``'s lineage so every job inside the block reads ONE
    evaluation of it.

    A write transaction reads its batch several times (touched
    partitions, the merge+write, the sequence high-water mark).  Without
    a cut each job re-runs the batch's whole plan: for a fetched batch
    that re-requests every venue page, and since a venue can answer
    differently the second time, the committed rows need not match the
    touched partitions computed from the first answer.  The cut is
    ``localCheckpoint(eager=False)``: the first job that reads it stores
    its partitions as executor-local blocks and every later job reads
    those, so nothing runs until the block needs it (a replayed
    ``applied_id`` never evaluates the batch at all).

    The blocks are released when the block exits, normally or by an
    exception such as :class:`CommitConflict` after the last retry.
    Fault-tolerance trade-off: a local checkpoint is not replicated and
    cannot be recomputed, so losing an executor between the first read
    and the exit fails the transaction (no version is committed; the
    caller re-runs it) instead of recomputing the lost partitions from
    lineage.  Frames derived from the cut are unreadable after exit.
    """
    cut = df.localCheckpoint(eager=False)
    try:
        yield cut
    finally:
        cut._jdf.queryExecution().logical().rdd().unpersist(False)


def _touched_partitions(
    df: DataFrame, partition_cols: Sequence[str], ts_col: str | None = "timestamp"
) -> dict[str, dict]:
    """Per partition directory ``df`` lands in, from one aggregate over one
    exchange: ``ts_min_us``/``ts_max_us`` of ``ts_col`` (None without the
    column or without a non-NULL value), ``null_ts`` (some row has a NULL
    ``ts_col``), ``rows`` (distinct ``ts_col`` values, which is the row
    count after keep-last when the key is the partition columns plus
    ``ts_col``) and ``seq`` (max ``_ingest_seq``, None without the
    column).  An empty dict means an empty batch.

    Values that share one directory name (``''`` and NULL both write to
    the default partition) fold into one entry."""
    names = list(partition_cols)
    us = F.unix_micros(F.col(ts_col)) if ts_col in df.columns else F.lit(None)
    seq = F.col(INGEST_SEQ) if INGEST_SEQ in df.columns else F.lit(None)
    rows = (
        df.select(
            *_partition_strings(partition_cols),
            us.cast("long").alias("_us"),
            seq.cast("long").alias("_seq"),
        )
        .repartition(*names)
        .groupBy(*names, "_us")
        .agg(F.max("_seq").alias("_seq"))
        .groupBy(*names)
        .agg(
            F.min("_us").alias("lo"),
            F.max("_us").alias("hi"),
            F.count(F.lit(1)).alias("n"),
            F.count("_us").alias("n_ts"),
            F.max("_seq").alias("seq"),
        )
        .collect()
    )
    groups: dict[str, list] = {}
    for r in rows:
        groups.setdefault(_partition_key(r, partition_cols), []).append(r)

    def fold(rs, field, agg):
        return agg((r[field] for r in rs if r[field] is not None), default=None)

    return {
        key: {
            "ts_min_us": fold(rs, "lo", min),
            "ts_max_us": fold(rs, "hi", max),
            "null_ts": any(r["n"] > r["n_ts"] for r in rs),
            "rows": sum(r["n"] for r in rs),
            "seq": fold(rs, "seq", max),
        }
        for key, rs in groups.items()
    }


#: Partition values are DUPLICATED into the data files under this prefix
#: (``partitionBy`` strips them from file content).  Readers resolve an
#: explicit FILE list from the manifest — never a directory listing — so
#: Hive-style partition-column inference is never used: it cannot even
#: run consistently over files that span multiple immutable batch dirs
#: (the steady state of this lake), and skipping it also means partition
#: column TYPES round-trip exactly instead of being re-guessed from
#: directory names.  The hive-style dirs remain for humans and pruning
#: keys only.
_PCOPY = "__pv_"


def _dir_values(df: DataFrame, partition_cols: Sequence[str]) -> list:
    """Each partition column's directory value, a string one with ``''``
    as NULL: Hive names both directories ``__HIVE_DEFAULT_PARTITION__``,
    so a task holding both as distinct values would open that
    directory's file twice under one name."""
    from pyspark.sql import types as T

    strings = {
        f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)
    }
    return [
        F.nullif(F.col(c), F.lit("")) if c in strings else F.col(c)
        for c in partition_cols
    ]


def _dir_columns(df: DataFrame, partition_cols: Sequence[str]) -> DataFrame:
    """``df`` ready for a ``partitionBy`` write: each partition column
    copied into the file (``_PCOPY``, which keeps ``''`` and NULL apart)
    and replaced by its directory value (:func:`_dir_values`)."""
    return df.withColumns(
        {_PCOPY + c: F.col(c) for c in partition_cols}
        | dict(zip(partition_cols, _dir_values(df, partition_cols)))
    )


def _write_data_files(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    partition_cols: Sequence[str],
    cluster: bool = True,
) -> list[str]:
    """Write ``df`` as immutable data files under a fresh batch dir;
    return their root-relative paths.

    ``cluster=True`` (default): apply :func:`_dir_columns`, then
    repartition+sort rows by partition key before the dynamic write —
    without this every task interleaves rows of MANY partitions and
    holds one open writer per directory it touches (memory + tiny
    flushes; a 2,400-partition bootstrap measured 2x slower).
    Clustered, each task streams its partitions sequentially, one writer
    at a time.  The upsert passes ``cluster=False``: it applied
    :func:`_dir_columns` itself, and its keep-last merge already
    hash-partitioned and sorted the rows by the directory values.  An
    unpartitioned lake has nothing to cluster and writes as it comes.
    """
    batch_dir = f"data/{uuid.uuid4().hex}"
    out = f"{root.rstrip('/')}/{batch_dir}"
    if cluster and partition_cols:
        df = _dir_columns(df, partition_cols).repartition(
            *[F.col(c) for c in partition_cols]
        ).sortWithinPartitions(*partition_cols)
    df.write.partitionBy(*partition_cols).mode("overwrite").parquet(out)
    Path, fs = _fs(spark, root)
    base_abs = fs.makeQualified(Path(root)).toUri().getPath()
    files: list[str] = []
    it = fs.listFiles(Path(out), True)
    while it.hasNext():
        p = it.next().getPath()
        if p.getName().endswith(".parquet"):
            files.append(p.toUri().getPath()[len(base_abs):].lstrip("/"))
    return sorted(files)


def _list_versions(spark: SparkSession, root: str) -> list[int]:
    Path, fs = _fs(spark, root)
    vdir = Path(f"{root.rstrip('/')}/{_VERSIONS}")
    if not fs.exists(vdir):
        return []
    out = []
    for st in fs.listStatus(vdir):
        name = st.getPath().getName()
        if name.startswith("v") and name.endswith(".json"):
            out.append(int(name[1:-5]))
    return sorted(out)


def current_version(spark: SparkSession, root: str) -> int | None:
    vs = _list_versions(spark, root)
    return vs[-1] if vs else None


def read_manifest(spark: SparkSession, root: str, version: int) -> dict:
    Path, fs = _fs(spark, root)
    p = Path(f"{root.rstrip('/')}/{_VERSIONS}/v{version:08d}.json")
    stream = fs.open(p)
    try:
        text = spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()
    return json.loads(text)


def _publish_if_absent(spark: SparkSession, fs, tmp, final) -> None:
    """Make ``final`` visible iff it does not exist, ATOMICALLY.

    On HDFS-like filesystems ``fs.rename`` already has server-side
    rename-if-absent semantics (returns false when the destination
    exists).  The LOCAL filesystem does NOT: Hadoop's local rename is a
    client-side exists-check followed by POSIX ``rename(2)``, and
    rename(2) silently REPLACES an existing destination — so two
    commit racers can both pass the check inside Hadoop's rename and
    both "succeed", the second replacing the first's manifest with no
    error anywhere (one upsert silently lost; caught once by the
    writer-stress test under full-suite load).  For ``file:`` schemes
    the publish therefore uses ``link(2)`` via
    ``java.nio.Files.createLink``, which fails with
    FileAlreadyExistsException atomically in the kernel — the classic
    lock-file primitive.  Either loser path raises
    :class:`CommitConflict` for the optimistic-retry wrappers.
    """
    if fs.getUri().getScheme() == "file":
        jvm = spark._jvm
        # java.io.File(...).toPath() — Paths.get is String varargs,
        # which py4j cannot dispatch
        src = jvm.java.io.File(
            fs.makeQualified(tmp).toUri().getPath()
        ).toPath()
        dst = jvm.java.io.File(
            fs.makeQualified(final).toUri().getPath()
        ).toPath()
        try:
            jvm.java.nio.file.Files.createLink(dst, src)
        except Exception as e:
            fs.delete(tmp, False)
            je = getattr(e, "java_exception", None)
            cls = je.getClass().getName() if je is not None else ""
            if "FileAlreadyExistsException" in cls:
                raise CommitConflict(
                    f"link to {final} failed: a concurrent writer won "
                    "the version race — recompute against the new "
                    "current version and retry"
                ) from None
            raise
        fs.delete(tmp, False)
        return
    if not fs.rename(tmp, final):
        fs.delete(tmp, False)
        raise CommitConflict(
            f"rename to {final} failed: a concurrent writer won the "
            "version race — recompute against the new current version "
            "and retry"
        )


def commit_version(
    spark: SparkSession, root: str, manifest: dict, version: int
) -> None:
    """Make ``v{version}.json`` visible atomically: full write to a hidden
    temp name in the same directory, then one atomic publish-if-absent
    (:func:`_publish_if_absent`).  A reader listing ``_versions`` either
    sees the finished file or nothing — never a partial manifest
    (``_``/``.``-prefixed temp names are filtered by the lister above
    and by parquet tooling conventions)."""
    Path, fs = _fs(spark, root)
    vdir = f"{root.rstrip('/')}/{_VERSIONS}"
    fs.mkdirs(Path(vdir))
    final = Path(f"{vdir}/v{version:08d}.json")
    if fs.exists(final):
        raise CommitConflict(
            f"snapshot version {version} already committed (concurrent "
            "writer won the race) — recompute against the new current "
            "version and retry"
        )
    tmp = Path(f"{vdir}/.tmp-{uuid.uuid4().hex}.json")
    out = fs.create(tmp, True)
    try:
        out.write(json.dumps(manifest, sort_keys=True).encode("utf-8"))
    finally:
        out.close()
    _publish_if_absent(spark, fs, tmp, final)


def _manifest_at(spark: SparkSession, root: str, version: int | None) -> dict:
    """The manifest of ``version``, the current one when None."""
    v = current_version(spark, root) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no snapshot versions under {root}")
    return read_manifest(spark, root, v)


def _live_files(manifest: dict) -> list[str]:
    """Every data file ``manifest`` lists; none for a new lake."""
    return [f for fl in manifest.get("partitions", {}).values() for f in fl]


def snapshot_files(spark: SparkSession, root: str,
                   version: int | None = None) -> list[str]:
    return _live_files(_manifest_at(spark, root, version))


def _file_time_stats(
    spark: SparkSession,
    root: str,
    files: list[str],
    schema,
    partition_cols: Sequence[str],
    ts_col: str = "timestamp",
) -> dict:
    """Per-file min/max of ``ts_col`` in epoch micros and row count — the
    statistics the manifest carries so time-range readers prune the file
    list driver-side and per-series progress is answered without a scan
    (:func:`snapshot_group_stats`; no parquet footer is opened).  One
    bounded aggregate over exactly the given NEW files of a commit, read
    with the committed table ``schema`` (a StructType), so no footer job
    infers it.  Empty when ``schema`` has no ``ts_col``."""
    if not files or ts_col not in schema.fieldNames():
        return {}
    Path, fs = _fs(spark, root)
    base_abs = fs.makeQualified(Path(root)).toUri().getPath()
    df = _read_files(spark, root, files, schema, partition_cols).select(
        F.input_file_name().alias("_f"),
        F.unix_micros(F.col(ts_col)).alias("_us"),
    )
    out = {}
    for r in df.groupBy("_f").agg(
        F.min("_us").alias("lo"),
        F.max("_us").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect():
        # input_file_name() is a percent-encoded URI; the manifest names
        # files by their decoded path (``_write_data_files``)
        p = unquote(urlsplit(r["_f"]).path)
        rel = p[len(base_abs):].lstrip("/")
        out[rel] = {
            "ts_min_us": int(r["lo"]),
            "ts_max_us": int(r["hi"]),
            "rows": int(r["n"]),
        }
    return out


def _read_files(
    spark: SparkSession,
    root: str,
    files: list[str],
    schema,
    partition_cols: Sequence[str],
) -> DataFrame:
    """Exact-file-list read: no directory listing (in-flight writers are
    invisible), no partition inference (see ``_PCOPY``) — the partition
    values come back from inside the files with their written types.

    The scan is planned with ``schema``, the manifest-stored table
    StructType, so zero parquet footers are opened: the difference
    between O(1) and O(file-count) planning on a many-partition snapshot
    (measured 2x on a 9,600-partition bootstrap).  Files written before
    an additive evolution read NULL for the new columns; an empty
    ``files`` reads an empty frame."""
    from pyspark.sql import types as T

    pset = set(partition_cols)
    read_schema = T.StructType(
        [
            T.StructField(
                (_PCOPY + f.name) if f.name in pset else f.name,
                f.dataType,
                True,
            )
            for f in schema.fields
        ]
    )
    return spark.read.schema(read_schema).parquet(
        *[f"{root.rstrip('/')}/{f}" for f in files]
    ).toDF(*schema.fieldNames())


def _to_micros(t) -> int:
    import datetime as _dt

    if isinstance(t, _dt.datetime):
        if t.tzinfo is None:
            t = t.replace(tzinfo=_dt.timezone.utc)
        return int(t.timestamp() * 1_000_000)
    return int(t)


def _files_in_range(manifest: dict, lo: int, hi: int) -> list[str]:
    """The live files whose ``[ts_min_us, ts_max_us]`` meets ``[lo, hi]``,
    plus every file without stats (a lake without a time column)."""
    stats = manifest["file_stats"]
    return sorted(
        f
        for f in _live_files(manifest)
        if (st := stats.get(f)) is None
        or (st["ts_min_us"] <= hi and st["ts_max_us"] >= lo)
    )


def snapshot_files_in_range(
    spark: SparkSession,
    root: str,
    time_range: tuple,
    version: int | None = None,
) -> list[str]:
    """Data-skipping file selection: keep only files whose manifest
    [ts_min, ts_max] interval intersects ``time_range``."""
    lo, hi = _to_micros(time_range[0]), _to_micros(time_range[1])
    return _files_in_range(_manifest_at(spark, root, version), lo, hi)


def snapshot_group_stats(
    manifest: dict, group_cols: Sequence[str]
) -> dict[tuple, tuple[int, int]] | None:
    """Per group of partition columns, ``(max ts_max_us, sum rows)`` over
    the manifest's live files: ``max(timestamp)`` and ``count(*)`` of the
    snapshot grouped by ``group_cols``, answered from the manifest alone.

    Keys are tuples of the decoded partition values in ``group_cols``
    order, as strings.  Returns None, and the caller then scans, when
    any live file lacks stats (a lake without a time column), or when a
    group value is NULL or empty: Hive writes both to the
    default-partition directory, so the manifest cannot tell them apart,
    while the files keep them distinct.
    """
    stats = manifest["file_stats"]
    out: dict[tuple, tuple[int, int]] = {}
    for part, files in manifest["partitions"].items():
        values = _partition_values(part)
        if not set(group_cols) <= values.keys():
            raise ValueError(
                f"{list(group_cols)} are not all partition columns of {part!r}"
            )
        key = tuple(values[c] for c in group_cols)
        if None in key:
            return None
        for f in files:
            st = stats.get(f)
            if st is None:
                return None
            hi, n = out.get(key, (st["ts_max_us"], 0))
            out[key] = (max(hi, st["ts_max_us"]), n + st["rows"])
    return out


def read_snapshot(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    time_range: tuple | None = None,
    ts_col: str = "timestamp",
) -> DataFrame:
    """Reader entry point: pointer → manifest → exact file set.

    ``version`` time-travels to an older retained manifest.
    ``time_range=(lo, hi)`` (datetimes or epoch micros, inclusive)
    prunes the file list through the manifest's per-file min/max stats
    BEFORE any scan is planned — the Iceberg-style data-skipping path —
    then applies the exact predicate, so results equal a full read +
    filter while IO is bounded by the files that can match.
    """
    man = _manifest_at(spark, root, version)
    if time_range is None:
        files = _live_files(man)
    else:
        lo, hi = _to_micros(time_range[0]), _to_micros(time_range[1])
        files = _files_in_range(man, lo, hi)
    df = _read_files(
        spark, root, files, _manifest_schema(man), man["partition_cols"]
    )
    if time_range is None:
        return df
    us = F.unix_micros(F.col(ts_col))
    return df.filter((us >= F.lit(lo)) & (us <= F.lit(hi)))


def _check_partition_cols(manifest: dict, partition_cols: Sequence[str]) -> None:
    """A write must use the lake's own partitioning: committing a
    manifest whose ``partition_cols`` differ from the existing one would
    leave files at mismatched paths and silently break partition-key
    pruning (an upsert could then miss rows a foreign-partitioned append
    wrote).  Repartitioning a lake is a migration, not a write."""
    have = manifest.get("partition_cols")
    if have is not None and list(have) != list(partition_cols):
        raise ValueError(
            f"lake is partitioned by {list(have)} but the write specifies "
            f"{list(partition_cols)}: repartitioning needs an explicit "
            "migration"
        )


def _evolve_schema(cur_schema, incoming_schema):
    """Additive-only schema evolution shared by upsert/append: incoming
    NEW columns widen the table schema; a retyped column is refused (a
    migration, not a write).  Returns the widened StructType."""
    from pyspark.sql import types as T

    cur_types = {f.name: f.dataType for f in cur_schema.fields}
    for f in incoming_schema.fields:
        if f.name in cur_types and cur_types[f.name] != f.dataType:
            raise TypeError(
                f"column {f.name!r} arrives as {f.dataType.simpleString()} "
                f"but the lake stores {cur_types[f.name].simpleString()}: "
                "type changes need an explicit migration"
            )
    return T.StructType(
        list(cur_schema.fields)
        + [f for f in incoming_schema.fields if f.name not in cur_types]
    )


def _frame_seq(df: DataFrame) -> int | None:
    """``df``'s max ``_ingest_seq`` (one aggregate job), None without the
    column."""
    if INGEST_SEQ not in df.columns:
        return None
    return int(df.agg(F.max(INGEST_SEQ).alias("m")).first()["m"] or 0)


def _seq_high_water(manifest: dict, seq: int | None) -> int | None:
    """The arrival-order high-water mark to commit: the manifest's value,
    raised to ``seq``, the written batch's own max(_ingest_seq) (None when
    the batch has no such column), so a later upsert stamps its rows
    above every stored one; None when both are None."""
    hi = manifest.get("max_ingest_seq")
    if hi is None and seq is None:
        return None
    return max(int(hi or 0), seq or 0)


def _conform(df: DataFrame, schema) -> DataFrame:
    """Project ``df`` onto ``schema`` (a StructType): present columns pass
    through, absent ones read typed NULL — how an evolved lake serves old
    files without rewriting them."""
    cols = []
    for f in schema.fields:
        if f.name in df.columns:
            cols.append(F.col(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


def _manifest_schema(manifest: dict):
    """The snapshot's table schema, stored in the manifest (the
    Delta-style answer: zero footer reads at any file count); empty for
    a new lake (an empty manifest)."""
    from pyspark.sql import types as T

    return T.StructType.fromJson(manifest["schema"]) if manifest else T.StructType([])


def _partition_files(manifest: dict, keys: set[str]) -> list[str]:
    """The live files of the partitions named by ``keys``."""
    return sorted(
        f for part, fl in manifest["partitions"].items() if part in keys for f in fl
    )


def _read_live(
    spark: SparkSession,
    root: str,
    manifest: dict,
    files: list[str],
    schema,
) -> DataFrame:
    """Manifest-pruned read of exactly ``files`` with the table
    ``schema``: a write's input never scales with snapshot size, only
    with the files it must rewrite."""
    if not files:
        return spark.createDataFrame([], schema)
    return _read_files(spark, root, files, schema, manifest["partition_cols"])


class _Write(NamedTuple):
    """What one attempt of a write commits: the live files it replaces,
    its new files and their stats, the table schema after it, and its
    batch's max ``_ingest_seq`` (None when the batch has no such
    column)."""

    replaced: list[str]
    files: list[str]
    stats: dict
    schema: Any
    seq: int | None


def _written(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    schema,
    partition_cols: Sequence[str],
    ts_col: str,
    replaced: list[str],
) -> _Write:
    """Write ``df`` as clustered data files replacing ``replaced``, with
    ``schema`` as the table schema after the write."""
    files = _write_data_files(spark, df, root, partition_cols)
    stats = _file_time_stats(spark, root, files, schema, partition_cols, ts_col)
    return _Write(replaced, files, stats, schema, _frame_seq(df))


def _transact(
    spark: SparkSession,
    root: str,
    partition_cols: Sequence[str],
    applied_id: str | None,
    retries: int,
    attempt: Callable[[int | None, dict], _Write | None],
) -> tuple[int | None, bool]:
    """The one write transaction every snapshot writer runs.

    Each try reads the current version and manifest (None and an empty
    manifest on a new lake, so the first commit is the same transaction),
    refuses a foreign partitioning and skips when the manifest already
    lists ``applied_id``: replay idempotence, the Delta-txn pattern.
    Otherwise ``attempt(version, manifest)`` writes the writer's own data
    files and returns them as a :class:`_Write`, or None when there is
    nothing to commit.  The next manifest is the current one minus the
    replaced files plus the new ones, the surviving files' stats carried
    over, the ``applied_ids`` ledger advanced, the write's schema and the
    seq high-water (:func:`_seq_high_water`); :func:`commit_version`
    publishes it as version N+1.

    A concurrent writer winning version N+1 (:class:`CommitConflict`)
    re-runs the whole try against the new snapshot, up to ``retries``
    times.  The loser's data files, like those of a crash before the
    commit, are unreferenced garbage for ``vacuum``; the live snapshot is
    untouched.  Returns the lake's version and whether this call
    committed it.
    """
    last: CommitConflict | None = None
    for _ in range(retries + 1):
        v = current_version(spark, root)
        manifest = read_manifest(spark, root, v) if v is not None else {}
        _check_partition_cols(manifest, partition_cols)
        if applied_id is not None and applied_id in manifest.get("applied_ids", []):
            return v, False
        write = attempt(v, manifest)
        if write is None:
            return v, False
        dropped = set(write.replaced)
        parts: dict[str, list[str]] = {}
        for part, fl in manifest.get("partitions", {}).items():
            left = [f for f in fl if f not in dropped]
            if left:
                parts[part] = left
        kept = {f for fl in parts.values() for f in fl}
        stats = {
            f: st for f, st in manifest.get("file_stats", {}).items() if f in kept
        }
        stats.update(write.stats)
        for f in write.files:
            parts.setdefault(_partition_of(f, partition_cols), []).append(f)
        applied, evicted = _applied_ids_next(manifest, applied_id)
        nxt = {
            "version": (v or 0) + 1,
            "partitions": parts,
            "file_stats": stats,
            "schema": write.schema.jsonValue(),
            "partition_cols": list(partition_cols),
            "applied_ids": applied,
            "applied_ids_evicted": evicted,
        }
        hi = _seq_high_water(manifest, write.seq)
        if hi is not None:
            nxt["max_ingest_seq"] = hi
        try:
            commit_version(spark, root, nxt, nxt["version"])
            return nxt["version"], True
        except CommitConflict as e:
            last = e
    raise last


def snapshot_merge_partitions(
    spark: SparkSession,
    root: str,
    incoming: DataFrame,
    merge_fn,
    partition_cols: Sequence[str],
    applied_id: str | None = None,
    ts_col: str = "timestamp",
    retries: int = 2,
) -> int:
    """Generic partition-granular transaction: replace the partitions
    ``incoming`` touches with ``merge_fn(current_touched, incoming)`` —
    the rollup's partial-candle merge.

    * **Pruned input** — ``current_touched`` reads ONLY the touched
      partitions' files, resolved through the manifest (no directory
      listing, no full-snapshot scan).
    * **Replay idempotence** — pass a stable ``applied_id`` per logical
      batch; a manifest already listing it skips the whole transaction
      (the Delta-txn pattern), so at-least-once delivery commits
      exactly once.
    * **Snapshot isolation + optimistic retry** — the commit protocol
      every writer shares (:func:`_transact`); losing a version race
      recomputes against the new snapshot.

    ``merge_fn(current: DataFrame | None, incoming) -> DataFrame``
    receives None when the lake doesn't exist yet (bootstrap).  Its
    result must carry the partition columns.

    ``incoming`` is evaluated once for all attempts
    (:func:`evaluated_once`); its blocks are released on return.  An
    empty batch over an existing lake follows the :func:`snapshot_upsert`
    rule: no write, no version, its ``applied_id`` is not recorded, and
    the current version is returned.  The bootstrap still commits
    version 1 for an empty batch, so readers of a new table find one.
    """
    with evaluated_once(incoming) as batch:

        def attempt(v: int | None, manifest: dict) -> _Write | None:
            current, replaced = None, []
            if v is not None:
                keys = set(_touched_partitions(batch, partition_cols, ts_col=None))
                if not keys:
                    return None
                schema = _manifest_schema(manifest)
                replaced = _partition_files(manifest, keys)
                current = _read_live(spark, root, manifest, replaced, schema)
            merged = merge_fn(current, batch)
            return _written(
                spark, root, merged, merged.schema, partition_cols, ts_col, replaced
            )

        return _transact(spark, root, partition_cols, applied_id, retries, attempt)[0]


def snapshot_append(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    partition_cols: Sequence[str],
    applied_id: str | None = None,
    ts_col: str = "timestamp",
    retries: int = 2,
) -> int:
    """Append-only snapshot commit: add ``df``'s files to their
    partitions without replacing anything — the discipline for immutable
    facts (fingerprint band rows).  With ``applied_id``, a replayed
    batch appends NOTHING instead of relying on downstream dedup.  Same
    additive-evolution contract as the upsert: new columns widen the
    committed schema (the explicit-schema read path would otherwise
    silently drop them forever), retypes are refused.  An empty frame
    over an existing lake writes no file and commits no version (the
    :func:`snapshot_upsert` rule); the bootstrap still commits version 1
    so readers of a new table find one."""

    def attempt(v: int | None, manifest: dict) -> _Write | None:
        evolved = _evolve_schema(_manifest_schema(manifest), df.schema)
        write = _written(
            spark, root, _conform(df, evolved), evolved, partition_cols, ts_col, []
        )
        return None if v is not None and not write.files else write

    return _transact(spark, root, partition_cols, applied_id, retries, attempt)[0]


def snapshot_overwrite(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    partition_cols: Sequence[str],
    applied_id: str | None = None,
    ts_col: str = "timestamp",
    retries: int = 2,
) -> int:
    """INSERT OVERWRITE for the snapshot lake: replace the table's
    ENTIRE content with ``df`` in one atomic manifest swap — the refresh
    discipline for derived serving artifacts (near-dup cluster tables,
    tokenizer segment tables) whose rebuild supersedes everything.

    The replay ledger carries across overwrites: with ``applied_id`` a
    re-delivered refresh (same data fingerprint) commits nothing, and
    concurrent builders collapse onto one winner through the same
    ``CommitConflict`` race every other write path uses — no bespoke
    rename protocol.  Old versions stay readable (time travel) until
    ``vacuum``.  Unlike upsert/append, the committed schema is the
    frame's own: an overwrite IS the migration path."""

    def attempt(v: int | None, manifest: dict) -> _Write:
        return _written(
            spark, root, df, df.schema, partition_cols, ts_col,
            _live_files(manifest),
        )

    return _transact(spark, root, partition_cols, applied_id, retries, attempt)[0]


def snapshot_refresh(
    spark: SparkSession,
    root: str,
    fingerprint: str,
    build_fn: Callable[[], DataFrame],
    partition_cols: Sequence[str],
) -> tuple[int, bool]:
    """Fingerprint-gated :func:`snapshot_overwrite`: replace the lake's
    content with ``build_fn()`` unless the live snapshot was built from
    ``fingerprint`` (a cheap identity of the source data).  Returns the
    live version and whether ``build_fn`` ran.

    Only the NEWEST ledger entry says what the live snapshot was built
    from.  Membership in the whole replay ledger would also match a
    stale fingerprint, so a source reverted to an earlier one (a backup
    restore) would be served a build of different data forever.  The
    committed id is ``{fingerprint}#v{N}``, salted with the version N
    about to be written: a reverted fingerprint commits a fresh
    overwrite, while concurrent builders that read the same head compute
    the same id and collapse onto one commit (the loser's retry finds it
    in the ledger).  ``fingerprint`` must not contain ``'#'``.  Another
    writer's id at the ledger head (an append's batch id) matches no
    fingerprint, so a refresh after it rebuilds: wasteful, never wrong.
    Refreshed artifacts (cluster and segment tables, sketch partials)
    carry no time column, so their file stats are empty.
    """
    if "#" in fingerprint:
        raise ValueError(
            "'#' is reserved as the fingerprint/version separator, got "
            f"{fingerprint!r}"
        )
    v = current_version(spark, root)
    if v is not None:
        ids = read_manifest(spark, root, v)["applied_ids"]
        if ids and ids[-1].split("#", 1)[0] == fingerprint:
            return v, False
    applied_id = f"{fingerprint}#v{(v or 0) + 1}"
    return snapshot_overwrite(
        spark, root, build_fn(), partition_cols, applied_id
    ), True


def snapshot_upsert(
    spark: SparkSession,
    incoming: DataFrame,
    root: str,
    key_cols: Sequence[str] = LOGICAL_KEY,
    partition_cols: Sequence[str] = PARTITION_COLS,
    retries: int = 2,
    applied_id: str | None = None,
) -> int | None:
    """Keep-last MERGE with snapshot isolation and optimistic retry.

    Keys are deduplicated within a partition (``key_cols`` plus
    ``partition_cols``; for the candle lake the same thing, since
    ``date`` is derived from ``timestamp``), the most recently arrived
    row winning: the greater ``_ingest_seq``, which a batch without the
    column takes as one past the lake's ``max_ingest_seq`` (0 on a new
    lake).  The first call on a new lake bootstraps version 1 through
    the same commit, against an empty manifest.

    A concurrent writer winning the version race surfaces as the
    ``commit_version`` conflict error; the losing upsert is safely
    recomputed against the NEW current snapshot (its orphaned data
    files become vacuum-able garbage, the live lake is untouched) —
    standard optimistic concurrency control, up to ``retries`` times.

    ``applied_id``: a stable per-logical-batch id (streaming micro-batch
    id, backfill run id).  A manifest already listing it makes the call
    a no-op — exactly-once commits under at-least-once delivery, without
    leaning on keep-last coincidence.

    One evaluation per batch: ``incoming`` is cut once for all attempts
    (:func:`evaluated_once`), so the committed rows, the touched
    partitions and the sequence high-water mark all come from the same
    evaluation, and a fetched batch requests each page once.  Its
    per-partition time range and key count (:func:`_touched_partitions`)
    are aggregated once too, by the first attempt the ledger does not
    skip.  An empty batch runs no write job and commits no version (its
    ``applied_id`` is not recorded); the call returns the current
    version, None when there is no lake yet.
    """
    with evaluated_once(_with_date(incoming)) as batch:
        touched = functools.cache(lambda: _touched_partitions(batch, partition_cols))
        attempt = functools.partial(
            _upsert_write, spark, root, batch, touched, key_cols, partition_cols
        )
        return _transact(spark, root, partition_cols, applied_id, retries, attempt)[0]


def _files_to_rewrite(
    manifest: dict, touched: dict[str, dict], append_ok: bool
) -> list[str]:
    """The live files an upsert of a batch with these touched-partition
    stats must read and rewrite; every other file is carried over.

    With ``append_ok`` (the key is the partition columns plus
    ``timestamp``) a batch key can only collide with a file of its own
    partition whose ``[ts_min_us, ts_max_us]`` holds the key's timestamp,
    so a partition rewrites only the files whose range meets the batch's
    ``[ts_min_us, ts_max_us]`` there, plus files without stats.  A
    partition rewrites all its files without ``append_ok``, when the batch
    holds a NULL timestamp there, or once it holds
    ``MAX_FILES_PER_PARTITION`` files."""
    stats = manifest.get("file_stats", {})
    out: list[str] = []
    for part, t in touched.items():
        files = manifest.get("partitions", {}).get(part, [])
        if (
            not append_ok
            or t["null_ts"]
            or len(files) >= MAX_FILES_PER_PARTITION
        ):
            out += files
            continue
        for f in files:
            st = stats.get(f)
            if st is None or (
                st["ts_min_us"] <= t["ts_max_us"]
                and st["ts_max_us"] >= t["ts_min_us"]
            ):
                out.append(f)
    return sorted(out)


def _upsert_write(
    spark: SparkSession,
    root: str,
    incoming: DataFrame,
    touched,
    key_cols: Sequence[str],
    partition_cols: Sequence[str],
    v: int | None,
    manifest: dict,
) -> _Write | None:
    """One attempt of the keep-last MERGE against ``(v, manifest)``.

    ``touched()`` returns the batch's :func:`_touched_partitions`.  The
    files to rewrite come from the manifest (:func:`_files_to_rewrite`),
    so the merge input is bounded by the files the batch can collide
    with, never by snapshot size: a batch past every partition's newest
    file reads none.  The rewritten files and the batch go through ONE
    shuffle — hash-partitioned by the partition columns, deduplicated
    and sorted inside those partitions, written without another
    exchange.  A partition that read no file and landed in one new file
    takes that file's stats from ``touched()``; other new files get one
    stats aggregate.  The table schema and the arrival-order high-water
    mark are manifest fields too (``schema``, ``max_ingest_seq``): no
    footer reads, no full-lake aggregate.  None for an empty batch.
    """
    parts_now = touched()
    if not parts_now:
        return None
    cur_schema = _manifest_schema(manifest)
    stamp = 0 if v is None else _seq_high_water(manifest, 0) + 1
    if INGEST_SEQ not in incoming.columns:
        incoming = incoming.withColumn(INGEST_SEQ, F.lit(stamp).cast("long"))

    # Schema evolution, additive-only: a batch carrying NEW columns
    # widens the table (pre-existing rows read NULL there) instead of
    # silently dropping the data; a batch MISSING known columns writes
    # NULL for them.  Dropping or retyping a column is refused — that is
    # a migration, not an upsert.
    evolved = _evolve_schema(cur_schema, incoming.schema)

    append_ok = "timestamp" in key_cols and set(key_cols) <= {
        *partition_cols, "timestamp"
    }
    rewrite = _files_to_rewrite(manifest, parts_now, append_ok)
    union = _conform(incoming, evolved)
    if rewrite:
        union = _conform(
            _read_live(spark, root, manifest, rewrite, cur_schema), evolved
        ).unionByName(union)
    names = list(partition_cols)
    merged = dedup_keep_last(
        # hashed by the directory values, which are derived after the
        # shuffle so it carries no copies; grouped by them first, the
        # aggregate's sort then also serves the clustered write
        _dir_columns(union.repartition(*_dir_values(union, names)), names),
        keys=list(dict.fromkeys([*names, *(_PCOPY + c for c in names), *key_cols])),
        order_col=INGEST_SEQ,
    ).sortWithinPartitions(*names)
    new_files = _write_data_files(
        spark, merged, root, partition_cols, cluster=False
    )

    read_parts = {_partition_of(f, partition_cols) for f in rewrite}
    landed: dict[str, list[str]] = {}
    for f in new_files:
        landed.setdefault(_partition_of(f, partition_cols), []).append(f)
    stats: dict[str, dict] = {}
    scan: list[str] = []
    for part, fl in landed.items():
        t = parts_now[part]
        if (
            append_ok
            and t["ts_min_us"] is not None
            and part not in read_parts
            and len(fl) == 1
        ):
            stats[fl[0]] = {
                "ts_min_us": t["ts_min_us"],
                "ts_max_us": t["ts_max_us"],
                "rows": t["rows"],
            }
        else:
            scan += fl
    stats.update(_file_time_stats(spark, root, scan, evolved, partition_cols))
    seqs = [t["seq"] for t in parts_now.values() if t["seq"] is not None]
    return _Write(rewrite, new_files, stats, evolved, max(seqs, default=stamp))


def snapshot_delete(
    spark: SparkSession,
    root: str,
    predicate,
    partition_cols: Sequence[str] = PARTITION_COLS,
    applied_id: str | None = None,
    ts_col: str = "timestamp",
    retries: int = 2,
) -> tuple[int, int]:
    """DELETE FROM the snapshot lake: rewrite only the partitions holding
    matching rows, drop the matches, commit one atomic manifest swap.
    Returns ``(committed_version, n_deleted)``.

    Semantics are SQL DELETE: a row goes iff ``predicate`` evaluates
    TRUE — NULL keeps the row (the kept-side filter is
    ``NOT coalesce(pred, FALSE)``, not ``NOT pred``, which would also
    delete NULL evaluations).

    Scale shape: one column-pruned discovery scan finds the touched
    partitions (it reads only the predicate's columns plus the partition
    columns); the rewrite then reads exactly those partitions' files via
    the manifest, evaluated once for the count and the write.  Untouched
    partitions keep byte-identical manifest entries; the pre-delete
    version stays time-travelable until ``vacuum`` (which is also the
    GDPR clock: data is physically gone only when no retained manifest
    references its files).
    """
    n_deleted = 0

    def attempt(v: int | None, manifest: dict) -> _Write | None:
        nonlocal n_deleted
        if v is None:
            raise FileNotFoundError(f"no snapshot versions under {root}")
        keys = {
            _partition_key(r, partition_cols)
            for r in read_snapshot(spark, root, v)
            .filter(predicate)
            .select(*_partition_strings(partition_cols))
            .distinct()
            .collect()
        }
        if not keys:
            return None
        schema = _manifest_schema(manifest)
        replaced = _partition_files(manifest, keys)
        with evaluated_once(
            _read_live(spark, root, manifest, replaced, schema)
        ) as current:
            kept = current.filter(~F.coalesce(predicate, F.lit(False)))
            n_deleted = current.count() - kept.count()
            files = _write_data_files(spark, kept, root, partition_cols)
        stats = _file_time_stats(spark, root, files, schema, partition_cols, ts_col)
        return _Write(replaced, files, stats, schema, None)

    v, committed = _transact(spark, root, partition_cols, applied_id, retries, attempt)
    return v, n_deleted if committed else 0


def vacuum(spark: SparkSession, root: str, keep: int = 1) -> list[str]:
    """Drop manifests older than the newest ``keep`` and delete data files
    no retained manifest references.  Run OUTSIDE any reader's grace
    window (the standard retention contract)."""
    if keep < 1:
        raise ValueError("vacuum must retain at least the live snapshot")
    Path, fs = _fs(spark, root)
    versions = _list_versions(spark, root)
    retained, dropped = versions[-keep:], versions[:-keep]
    live: set[str] = set()
    for v in retained:
        live.update(snapshot_files(spark, root, v))
    base = f"{root.rstrip('/')}/"
    base_abs = fs.makeQualified(Path(root)).toUri().getPath()
    deleted: list[str] = []
    data_dir = Path(f"{root.rstrip('/')}/data")
    if fs.exists(data_dir):
        it = fs.listFiles(data_dir, True)
        doomed = []
        while it.hasNext():
            p = it.next().getPath()
            rel = p.toUri().getPath()[len(base_abs):].lstrip("/")
            if rel.endswith(".parquet") and rel not in live:
                doomed.append((p, rel))
        for p, rel in doomed:
            fs.delete(p, False)
            deleted.append(rel)
    for v in dropped:
        fs.delete(Path(f"{base}{_VERSIONS}/v{v:08d}.json"), False)
    return sorted(deleted)
