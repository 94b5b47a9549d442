"""End-to-end pipelines: the reference's two drive modes as single calls.

- :func:`backfill` = CryptoCollector.backfill_historical (626-657): plan a
  chunk manifest, fan the fetches across executors, normalize, MERGE into
  the lake, return the watermark/progress table.
- live collection lives in ``streaming.live`` (micro-batch loop, 659-717).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crypto_data_ingestion_module_spark.sinks.snapshot import (
    current_version,
    evaluated_once,
    read_snapshot,
    snapshot_upsert,
)
from crypto_data_ingestion_module_spark.sources.fetch import (
    Adapter,
    fetch_pages,
    normalize_mock_pages,
    quarantined,
)
from crypto_data_ingestion_module_spark.sources.manifest import (
    backfill_manifest,
    incremental_manifest,
)


def curate_and_shard(
    spark: SparkSession,
    docs: DataFrame,
    benchmark: DataFrame | None,
    work_dir: str,
    num_shards: int = 16,
    quality_min: float = 0.5,
    decontam_n: int = 4,
    mixture_caps: dict[str, int] | None = None,
    seed: int = 42,
) -> DataFrame:
    """The LLM-training-data pipeline end-to-end, one call:

    decontaminate (vs ``benchmark``) → quality gate → exact-dedup reps →
    near-dup cluster reps (SimHash Hamming pairs → connected components,
    materialized to ``{work_dir}/clusters``) → optional per-source
    mixture caps → seeded-shuffle shards at ``{work_dir}/shards``.

    Returns the shard manifest.  Every stage is the already-tested
    operator; this function is the composition a user actually runs, and
    each intermediate that a 100 TB run would materialize (cluster
    assignments, the shard files) IS materialized — nothing recomputes.
    """
    import os

    from crypto_data_ingestion_module_spark.operators.curation import (
        materialize_clusters,
        read_clusters,
    )
    from crypto_data_ingestion_module_spark.operators.decontam import (
        decontaminate,
    )
    from crypto_data_ingestion_module_spark.operators.sampling import (
        mixture_sample,
    )
    from crypto_data_ingestion_module_spark.operators.text_dedup import (
        simhash_hamming_pairs,
    )
    from crypto_data_ingestion_module_spark.sinks.shards import (
        write_training_shards,
    )
    from crypto_data_ingestion_module_spark.functions import text as TX

    clean = docs if benchmark is None else decontaminate(
        docs, benchmark, n=decontam_n
    )
    quality = clean.filter(TX.quality_score("text") >= quality_min)
    exact_reps = quality.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    survivors = quality.join(exact_reps.select("doc_id"), "doc_id", "semi")

    cluster_path = os.path.join(work_dir, "clusters")
    materialize_clusters(
        survivors, simhash_hamming_pairs(survivors), cluster_path
    )
    reps = read_clusters(spark, cluster_path).filter("is_rep").select("doc_id")
    curated = survivors.join(reps, "doc_id", "semi")

    if mixture_caps is not None:
        curated = mixture_sample(
            curated, "source", mixture_caps, id_col="doc_id", seed=seed
        ).drop("sample_rank")

    return write_training_shards(
        curated,
        os.path.join(work_dir, "shards"),
        num_shards=num_shards,
        id_col="doc_id",
        seed=seed,
    )


def backfill(
    spark: SparkSession,
    symbols_df: DataFrame,
    intervals_df: DataFrame,
    end_ms: int,
    adapter: Adapter,
    lake_root: str,
    pacing: dict[str, float] | None = None,
    normalizer=normalize_mock_pages,
    incremental: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Historical backfill: manifest → distributed fetch → canonical
    candles → keep-last MERGE into the lake.

    Returns (progress, quarantine): the per-(symbol, interval, exchange)
    max collected timestamp (the reference's ``last_collected_ts`` state,
    500-512/652) and the failed-task side channel.

    One evaluation per batch: the fetched pages are evaluated once
    (``sinks.snapshot.evaluated_once``), so each manifest page is
    requested once, and the committed candles, the touched partitions
    and the quarantine all come from that one answer.  The quarantine
    (at most one row per failed page) is collected and returned as a
    local DataFrame; reading it makes no request.  An empty batch (a
    re-run over an up-to-date lake) writes nothing and commits no
    version.

    The merge lands as one snapshot-isolated commit
    (``sinks.snapshot``): concurrent readers never see a half-applied
    backfill.

    ``incremental=True`` (default): when the lake already exists, the
    manifest is clamped to its per-series watermarks
    (``sources.manifest.incremental_manifest``) — only uncollected
    buckets are fetched, and a re-run over an up-to-date lake fetches
    nothing, exactly the reference's ``last_collected_ts`` discipline
    (crypto_collector.py:481-520).  ``incremental=False`` re-fetches the
    full range (corrections sweep: keep-last MERGE makes it safe).

    ``normalizer`` must match the adapter's page layout: the mock layout
    for :class:`MockExchangeAdapter`, ``normalize_real_pages`` for real
    venue payloads — a mismatch scrambles OHLC column order silently.
    """
    manifest = backfill_manifest(spark, symbols_df, intervals_df, end_ms)
    if incremental and current_version(spark, lake_root) is not None:
        manifest = incremental_manifest(manifest, read_snapshot(spark, lake_root))
    raw = fetch_pages(spark, manifest, adapter, pacing=pacing)

    # one evaluation of the fetched pages feeds both the committed
    # candles and the returned quarantine: each page is requested once
    with evaluated_once(raw) as pages:
        # drop the chunk-provenance seq: the lake stamps a monotone
        # (max existing + 1) arrival order, so a re-fetch of the same range
        # strictly supersedes prior data and corrections always win
        candles = normalizer(pages).drop("_ingest_seq")
        version = snapshot_upsert(spark, candles, lake_root)
        failed = quarantined(pages)
        quarantine = spark.createDataFrame(failed.collect(), failed.schema)

    if version is not None:
        lake = read_snapshot(spark, lake_root, version)
    else:  # nothing fetched into a new lake: no version was committed
        lake = spark.createDataFrame([], candles.schema)

    progress = (
        lake.groupBy("symbol", "interval", "exchange")
        .agg(
            F.max("timestamp").alias("last_collected_ts"),
            F.count(F.lit(1)).alias("n_candles"),
        )
    )
    return progress, quarantine
