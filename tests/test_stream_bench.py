"""tools/stream_bench: a lane drain runs one micro-batch per feed
sub-dir, so cross-batch state is exercised (maxFilesPerTrigger is a
source option; set on the writeStream, Spark ignores it and drains the
whole feed as one batch)."""

from pyspark.sql import functions as F

import tools.stream_bench as SB


def test_drain_runs_one_batch_per_sub_dir(spark, tmp_path):
    feed = str(tmp_path / "feed")
    df = (spark.range(30).repartition(4)
          .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v")))
    assert SB._write_batches(df, feed, F.col("k")) == 30
    seen = []
    q = SB._foreach_drain(SB._stream(spark, feed), str(tmp_path / "ckpt"),
                          lambda b, i: seen.append((i, b.count())))
    assert len(q.recentProgress) == 3
    assert sorted(seen) == [(0, 10), (1, 10), (2, 10)]
