"""Incremental ANN-index maintenance (streaming/ann_stream.py): frozen
quantizers make the streamed index EQUAL the batch-built one, and batch
replays are idempotent."""

import glob
import os

from pyspark.sql import functions as F

from crypto_data_ingestion_module_spark.session import load_table
from crypto_data_ingestion_module_spark.streaming.ann_stream import (
    index_batch,
    read_index,
    stream_index_embeddings,
)
from tests.conftest import SF_SMALL


def _state(df):
    return sorted(
        (r.nid, r.list_id, tuple(r.codes))
        for r in df.select("nid", "list_id", "codes").collect()
    )


def test_streamed_index_equals_batch(spark, tmp_path):
    emb = load_table(spark, SF_SMALL, "embeddings")
    # reference corpus for the frozen quantizers: the first third
    ref = emb.filter(F.col("vec_id") % 3 == 0)

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    for n, i in enumerate([1, 0, 2]):  # shuffled arrival
        tmp = str(tmp_path / f"t{i}")
        emb.filter(F.col("vec_id") % 3 == i).coalesce(1).write.parquet(tmp)
        os.rename(
            glob.glob(tmp + "/*.parquet")[0],
            os.path.join(in_dir, f"b{n}.parquet"),
        )
    src = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    lake = str(tmp_path / "index")
    q = stream_index_embeddings(src, ref, lake, str(tmp_path / "ck"))
    q.awaitTermination(120)

    got = _state(read_index(spark, lake))

    batch_lake = str(tmp_path / "batch_index")
    index_batch(emb, ref, batch_lake, "all")
    want = _state(read_index(spark, batch_lake))
    assert got == want
    assert len(got) == emb.count()

    # replaying one batch changes nothing — the manifest ledger skips a
    # re-delivered batch identity (stream-scoped: streaming/identity.py
    # folds the checkpoint's creation marker, still present on disk)
    from crypto_data_ingestion_module_spark.streaming.identity import (
        stream_qid,
    )

    qid = stream_qid(str(tmp_path / "ck"))
    one = emb.filter(F.col("vec_id") % 3 == 1)
    index_batch(one, ref, lake, f"{qid}-0")  # batch 0 carried %3==1
    assert _state(read_index(spark, lake)) == got
