"""Bucketed-table sink (``sinks/bucketed``): co-bucketed joins need no
shuffle.  The candle lake's K1 layout and K2 upsert are pinned in
tests/test_snapshot.py."""

from pyspark.sql import functions as F


def test_bucketed_cobucketed_join_has_no_shuffle(spark, tmp_path):
    from crypto_data_ingestion_module_spark.sinks.bucketed import (
        assert_no_shuffle_join,
        cobucketed_join,
        physical_plan,
        write_bucketed,
    )

    left = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("lv")
    )
    right = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("rv")
    )
    try:
        write_bucketed(left, "t_bleft", ["k"], num_buckets=8,
                       path=str(tmp_path / "bleft"))
        write_bucketed(right, "t_bright", ["k"], num_buckets=8,
                       path=str(tmp_path / "bright"))
        # co-located: no Exchange anywhere in the join plan (disable
        # broadcast so the small fixtures take the sort-merge path a
        # 100 TB table would)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = cobucketed_join(spark, "t_bleft", "t_bright", ["k"])
            assert_no_shuffle_join(joined)
            assert joined.count() == 1000
            # and the result is right
            row = joined.filter(F.col("k") == 7).first()
            assert (row.lv, row.rv) == (14, 21)
            # control: the same data read WITHOUT the catalog bucket spec
            # must shuffle — proves the assertion isn't vacuous
            raw = spark.read.parquet(str(tmp_path / "bleft")).join(
                spark.read.parquet(str(tmp_path / "bright")), ["k"]
            )
            assert "Exchange" in physical_plan(raw)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bleft")
        spark.sql("DROP TABLE IF EXISTS t_bright")
