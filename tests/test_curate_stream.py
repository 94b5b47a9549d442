"""Streaming curation (streaming/curate_stream.py): micro-batched
decontam → quality → incremental near-dup, settled once, must equal the
same stages run in one batch on the same documents."""

import glob
import os

from pyspark.sql import functions as F

from crypto_data_ingestion_module_spark.functions import text as TX
from crypto_data_ingestion_module_spark.operators.decontam import decontaminate
from crypto_data_ingestion_module_spark.operators.graph import assign_clusters
from crypto_data_ingestion_module_spark.operators.text_dedup import (
    simhash_hamming_pairs,
)
from crypto_data_ingestion_module_spark.session import load_table
from crypto_data_ingestion_module_spark.sinks.snapshot import (
    current_version,
    read_manifest,
)
from crypto_data_ingestion_module_spark.streaming.curate_stream import (
    read_curate_docs,
    read_curate_pairs,
    settle_curated,
    stream_curate_ingest,
)
from tests.conftest import SF_SMALL


def _write_batch_file(df, target_dir):
    tmp = target_dir + ".tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    os.makedirs(target_dir, exist_ok=True)
    src = glob.glob(os.path.join(tmp, "*.parquet"))[0]
    n = len(glob.glob(os.path.join(target_dir, "*.parquet")))
    os.rename(src, os.path.join(target_dir, f"batch-{n}.parquet"))


def test_stream_curation_equals_batch(spark, tmp_path):
    docs = load_table(spark, SF_SMALL, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)

    # ---- batch reference: the same stages over all docs at once
    quality = decontaminate(train, bench, n=4).filter(
        TX.quality_score("text") >= 0.5
    )
    exact_reps = quality.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    survivors = quality.join(exact_reps.select("doc_id"), "doc_id", "semi")
    reps = (
        assign_clusters(survivors, simhash_hamming_pairs(survivors))
        .filter("is_rep")
        .select("doc_id")
    )
    batch_curated = {
        r.doc_id for r in survivors.join(reps, "doc_id", "semi").collect()
    }

    # ---- streamed: HIGH ids first so later batches carry SMALLER ids
    # that overturn earlier exact/cluster representatives
    in_dir = str(tmp_path / "incoming")
    _write_batch_file(train.filter(F.col("doc_id") >= 300), in_dir)
    _write_batch_file(
        train.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 300)),
        in_dir,
    )
    _write_batch_file(train.filter(F.col("doc_id") < 100), in_dir)

    lake = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    source = (
        spark.readStream.schema(train.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = stream_curate_ingest(source, bench, lake, ckpt, quality_min=0.5)
    q.awaitTermination(180)

    # the docs lake committed three batches, one ledger id each
    v = current_version(spark, lake + "/docs")
    assert v == 3
    assert len(set(read_manifest(spark, lake + "/docs", v)["applied_ids"])) == 3

    # the accumulated docs lake is exactly the decontaminated+gated set
    assert {r.doc_id for r in read_curate_docs(spark, lake).collect()} == {
        r.doc_id for r in quality.collect()
    }

    # incremental recall 1: the accumulated pair log equals the
    # from-scratch pair set over the union
    got_pairs = {
        (r.id_a, r.id_b, r.hamming)
        for r in read_curate_pairs(spark, lake).collect()
    }
    want_pairs = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_hamming_pairs(quality).collect()
    }
    assert got_pairs == want_pairs

    # settle == batch composition, document for document
    got = {r.doc_id for r in settle_curated(spark, lake).collect()}
    assert got == batch_curated and len(got) > 0
