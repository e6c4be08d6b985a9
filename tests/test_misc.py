"""Tests for write-key auth (M5) and observable counters (M4) in
kassette_server_spark.misc."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from kassette_server_spark import misc


def test_write_key_auth(spark):
    expected = hashlib.md5(b"acme_s3cret").hexdigest()
    df = spark.createDataFrame([("acme", "s3cret")], "c string, s string")
    got = df.select(misc.write_key(F.col("c"), F.col("s")).alias("wk")).collect()[0].wk
    assert got == expected
    batch = spark.createDataFrame([(expected, 1), ("bad", 2)], "write_key string, n int")
    assert [r.n for r in misc.authenticate(batch, [expected]).collect()] == [1]


def test_observable_counters(spark):
    df = spark.range(10)
    observed = misc.with_counters(df, "ingest")
    observed.collect()
    # observation is retrievable via the DataFrame's observedMetrics
    # in listeners; here we assert the plan carries the observe node
    assert "CollectMetrics" in observed._jdf.queryExecution().analyzed().toString()
