"""Training-shard writer: the final stage of a training-data pipeline.

A curated corpus leaves the engine as a set of fixed-count, globally
shuffled shards that a data loader streams sequentially — random access
at train time is too expensive at 100 TB, so the RANDOMNESS has to be
baked in at write time.  Requirements this sink meets:

- **Deterministic**: shard assignment and within-shard order are seeded
  hashes of the document id, so a re-run (or a resumed partial run)
  produces byte-identical shard membership regardless of input
  partitioning or cluster size.
- **Globally shuffled**: the assignment hash is uniform over shards and
  the within-shard sort key is an independent hash, so any contiguous
  read is an unbiased sample — no source/time locality survives.
- **One file per shard**: a loader maps shard index → one file.  Rows
  are hash-distributed to shards and each shard value lands in exactly
  one task partition (``repartition(n, shard)``), so the
  ``partitionBy("shard")`` write emits exactly one file per shard
  directory, not one-per-task-per-shard small-file spray.
- **Audited**: a ``_manifest`` parquet records per-shard row count and
  an order-insensitive content fingerprint, written AFTER the data so
  its presence marks a complete write (written last, like the snapshot
  lake's version file).

100 TB shape: one full shuffle of the corpus (the repartition) — which
is the theoretical minimum for a global shuffle — followed by a
per-partition sort bounded by shard size (corpus_size / num_shards;
size num_shards so a shard fits an executor).  The manifest pass is a
count+hash aggregate, map-side combined.

Reference parity: the reference's sink is per-day CSV/parquet rotation
(crypto_collector.py:523-558); shard writing is a capability extension
(SURVEY §2.10) for the LLM-pipeline north star.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SHARD_COL = "shard"


def _shard_key(id_col: str, seed: int) -> F.Column:
    return F.xxhash64(F.concat(F.col(id_col).cast("string"), F.lit(f"#shard#{seed}")))


def _order_key(id_col: str, seed: int) -> F.Column:
    return F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f"#order#{seed}")))


def write_training_shards(
    df: DataFrame,
    path: str,
    num_shards: int,
    id_col: str,
    seed: int = 42,
) -> DataFrame:
    """Write ``df`` as ``num_shards`` shuffled shard files + manifest.

    Layout: ``{path}/shard={i}/part-*.parquet`` (exactly one data file
    per shard) and ``{path}/_manifest`` (one row per shard: ``shard``,
    ``n_rows``, ``fingerprint``).  Returns the manifest DataFrame.
    """
    shard = F.pmod(_shard_key(id_col, seed), F.lit(num_shards)).cast("int")
    # The sort LEADS with the shard column: the dynamic-partition write
    # inserts its own (not-necessarily-stable) sort on the partition
    # columns unless the incoming ordering already has them as a prefix
    # — which would scramble the baked-in order whenever two shard
    # values hash-collide into one task.
    sharded = (
        df.withColumn(SHARD_COL, shard)
        .repartition(num_shards, F.col(SHARD_COL))
        .sortWithinPartitions(
            F.col(SHARD_COL), _order_key(id_col, seed), F.col(id_col)
        )
    )
    sharded.write.mode("overwrite").partitionBy(SHARD_COL).parquet(path)
    spark = df.sparkSession
    # explicit schema: an EMPTY corpus writes zero data files and plain
    # read-back would die on schema inference — an empty corpus is a
    # legitimate outcome of aggressive curation, and it should produce
    # an empty manifest, not a crash
    written = spark.read.schema(sharded.schema).parquet(path)
    manifest = written.groupBy(SHARD_COL).agg(
        F.count(F.lit(1)).alias("n_rows"),
        # order-insensitive: sum of row-id hashes (decimal — a LONG sum
        # of 64-bit hashes overflows under ANSI)
        F.sum(F.xxhash64(F.col(id_col)).cast("decimal(38,0)"))
        .cast("string")
        .alias("fingerprint"),
    )
    manifest.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "_manifest")
    )
    return manifest


def read_manifest(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(os.path.join(path, "_manifest"))


def read_shard(spark: SparkSession, path: str, shard: int) -> DataFrame:
    """One shard, in its written (pre-shuffled) order.

    ``basePath`` keeps the partition column; splitting a shard file
    across tasks would interleave the baked-in order, so loaders that
    care about the exact sequence read with one task per shard file
    (files are sized corpus/num_shards for exactly this reason).
    """
    return (
        spark.read.option("basePath", path)
        .parquet(os.path.join(path, f"{SHARD_COL}={shard}"))
    )


def write_training_shards_jsonl(
    df: DataFrame,
    path: str,
    num_shards: int,
    id_col: str,
    seed: int = 42,
    compress: bool = True,
) -> DataFrame:
    """JSONL(.gz) twin of :func:`write_training_shards` — the interchange
    format training loaders actually consume.

    Identical sharding, ordering, and manifest discipline (same seed →
    the parquet and JSONL exports carry the SAME rows in the SAME order
    per shard, pinned by test); only the encoding differs.  One gzipped
    JSON-lines file per shard at ``{path}/shard={i}/part-*.json.gz``.
    """
    shard = F.pmod(_shard_key(id_col, seed), F.lit(num_shards)).cast("int")
    sharded = (
        df.withColumn(SHARD_COL, shard)
        .repartition(num_shards, F.col(SHARD_COL))
        .sortWithinPartitions(
            F.col(SHARD_COL), _order_key(id_col, seed), F.col(id_col)
        )
    )
    writer = sharded.write.mode("overwrite").partitionBy(SHARD_COL)
    if compress:
        writer = writer.option("compression", "gzip")
    writer.json(path)
    spark = df.sparkSession
    written = spark.read.schema(sharded.schema).json(path)
    manifest = written.groupBy(SHARD_COL).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.xxhash64(F.col(id_col)).cast("decimal(38,0)"))
        .cast("string")
        .alias("fingerprint"),
    )
    manifest.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "_manifest")
    )
    return manifest
