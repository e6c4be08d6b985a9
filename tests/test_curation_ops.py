"""Semantics tests for the domain-mix and shuffle-shard curation
operators (the oracle-parity suite covers cross-engine exactness;
these pin the *behavioral* contract on hand-built frames)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kassette_server_spark.operators import curation


def _docs(spark):
    # domain 'a': 100 docs, domain 'b': 50 docs
    rows = [(i, "a" if i < 100 else "b") for i in range(150)]
    return spark.createDataFrame(rows, "doc_id long, lang string")


def test_domain_mix_binding_domain_keeps_all(spark):
    # equal target weights, b is half a's size -> b binds (rate 1.0,
    # threshold 4096 == every bucket), a downsamples to ~half
    out = curation.domain_mix(_docs(spark), {"a": 0.5, "b": 0.5}).cache()
    by = {r["lang"]: r for r in
          out.groupBy("lang").agg(
              F.count("*").alias("n"),
              F.sum(F.col("keep").cast("long")).alias("kept"),
              F.max("threshold").alias("thr")).collect()}
    assert by["b"]["thr"] == 4096 and by["b"]["kept"] == 50
    assert by["a"]["thr"] == 2048  # floor(0.5 * 4096)
    assert 0 < by["a"]["kept"] < 100
    # the keep decision is exactly the bucket threshold
    bad = out.filter(F.col("keep") != (F.col("bucket") < F.col("threshold"))).count()
    assert bad == 0
    out.unpersist()


def test_domain_mix_unweighted_domain_dropped(spark):
    out = curation.domain_mix(_docs(spark), {"a": 1.0})
    b = out.filter(F.col("lang") == "b")
    assert b.count() == 50
    assert b.filter(F.col("keep")).count() == 0
    assert b.agg(F.max("threshold")).first()[0] == 0


def test_shuffle_shards_contiguous_positions_and_determinism(spark):
    df = _docs(spark)
    out1 = curation.shuffle_shards(df, n_shards=8).cache()
    # every doc exactly once
    assert out1.count() == 150
    assert out1.select("doc_id").distinct().count() == 150
    # positions within a shard are exactly 1..n_s
    per = out1.groupBy("shard_id").agg(
        F.count("*").alias("n"), F.min("pos").alias("lo"), F.max("pos").alias("hi"))
    assert per.filter((F.col("lo") != 1) | (F.col("hi") != F.col("n"))).count() == 0
    # deterministic: a second run is row-identical
    out2 = curation.shuffle_shards(df, n_shards=8)
    assert out1.exceptAll(out2).count() == 0 and out2.exceptAll(out1).count() == 0
    out1.unpersist()


def _doc_verdicts(verdicts):
    """Batch-local per-doc reduction of minhash_dedup_stream's
    per-bucket verdicts: a doc is kept iff NO bucket matched; dup_of is
    the smallest matching keeper."""
    return (
        verdicts.groupBy("doc_id")
        .agg(F.min("dup_of").alias("dup_of"), F.max("est_jaccard").alias("est_jaccard"))
        .withColumn("keep", F.col("dup_of").isNull())
    )


def test_minhash_dedup_stream_cross_batch_suppression(spark, tmp_path):
    """Streaming near-dup: a re-phrased (not byte-identical) document
    arriving in a LATER micro-batch within the horizon must be
    suppressed as a near-dup of the first-seen doc; novel docs pass.
    State survives via the checkpoint across separate runs."""
    from kassette_server_spark.operators.dedup import (
        minhash_dedup_stream,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base + " ok"  # high shingle overlap -> near-dup, not exact-dup
    other = "completely different content about spark structured streaming state"

    src = tmp_path / "in"
    src.mkdir()
    spark.createDataFrame(
        [(1, base, 100)], "doc_id long, text string, ts_s long"
    ).write.json(str(src / "b1"))

    stream = (
        spark.readStream.schema("doc_id long, text string, ts_s long")
        .option("recursiveFileLookup", "true")
        .json(str(src))
        .select("doc_id", "text", F.timestamp_seconds(F.col("ts_s")).alias("ts"))
    )
    verdicts = minhash_dedup_stream(stream, threshold=0.8, watermark="10 minutes")
    sink = str(tmp_path / "out")

    def drain():
        def write_batch(batch_df, batch_id):
            _doc_verdicts(batch_df).write.mode("append").json(sink)

        q = (
            verdicts.writeStream.outputMode("append")
            .foreachBatch(write_batch)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    # second RUN (fresh query, same checkpoint): near-dup of doc 1 + a novel doc
    spark.createDataFrame(
        [(2, near, 200), (3, other, 300)], "doc_id long, text string, ts_s long"
    ).write.json(str(src / "b2"))
    drain()

    got = {r.doc_id: (r.keep, r.dup_of) for r in spark.read.json(sink).collect()}
    assert got[1] == (True, None)
    assert got[2] == (False, 1), got
    assert got[3] == (True, None)


def test_minhash_dedup_stream_prunes_stale_keepers(spark, tmp_path):
    """Per-keeper horizon eviction: once the watermark passes a
    keeper's first-seen ts, a later near-dup must be RE-ADMITTED as a
    new keeper (dropDuplicatesWithinWatermark semantics), not
    suppressed against state older than the horizon — even though the
    bucket itself stayed alive. Also exercises null/short-text rows,
    which must bypass the stateful stage as keepers instead of
    crashing on a null signature."""
    from kassette_server_spark.operators.dedup import (
        minhash_dedup_stream,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    other = "completely different content about spark structured streaming state"

    src = tmp_path / "in"
    src.mkdir()

    def feed(name, rows):
        spark.createDataFrame(
            rows, "doc_id long, text string, ts_s long"
        ).write.json(str(src / name))

    stream = (
        spark.readStream.schema("doc_id long, text string, ts_s long")
        .option("recursiveFileLookup", "true")
        .json(str(src))
        .select("doc_id", "text", F.timestamp_seconds(F.col("ts_s")).alias("ts"))
    )
    verdicts = minhash_dedup_stream(stream, threshold=0.8, watermark="10 minutes")
    sink = str(tmp_path / "out")

    def drain():
        def write_batch(batch_df, batch_id):
            _doc_verdicts(batch_df).write.mode("append").json(sink)

        q = (
            verdicts.writeStream.outputMode("append")
            .foreachBatch(write_batch)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # run 1: keeper at t=100; plus a null-text and a sub-k-token doc
    feed("b1", [(1, base, 100), (8, None, 110), (9, "one two", 120)])
    drain()
    # run 2: unrelated traffic far in the future advances the watermark
    # to 5000 - 600 = 4400s, far past keeper 1's ts
    feed("b2", [(5, other, 5000)])
    drain()
    # run 3: an exact re-send of doc 1 at t=4500 — inside run-2's
    # watermark but a horizon past keeper 1 — must be re-admitted
    feed("b3", [(6, base, 4500)])
    drain()

    got = {
        r.doc_id: (r.keep, r.dup_of)
        for r in spark.read.schema(
            "doc_id long, dup_of long, est_jaccard double, keep boolean"
        ).json(sink).collect()
    }
    assert got[1] == (True, None)
    assert got[8] == (True, None), "null text must pass through as keeper"
    assert got[9] == (True, None), "sub-k-token text must pass through as keeper"
    assert got[5] == (True, None)
    assert got[6] == (True, None), f"stale keeper must have been pruned: {got}"


def test_minhash_dedup_stream_from_plan_parity(spark, tmp_path):
    """VERDICT r9 #5: the q222 band-planner's chosen (r, b) row drives
    the streaming dedup directly. The constructed stream must behave
    identically to a hand-built minhash_dedup_stream(num_hashes=r*b,
    bands=b) on the same fixture — same keepers, same dup_of."""
    from kassette_server_spark.operators.dedup import (
        minhash_dedup_stream,
        minhash_dedup_stream_from_plan,
    )
    from kassette_server_spark.operators.diagnostics import lsh_band_plan

    plan = lsh_band_plan(spark, n_hashes=8, threshold=0.8, sims=(0.5, 0.8))
    chosen = [r for r in plan.collect() if r.chosen]
    assert len(chosen) == 1
    row = chosen[0]
    assert row.r * row.b <= 8  # the layout never uses more components

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base + " ok"
    other = "completely different content about spark structured streaming state"
    src = tmp_path / "in"
    src.mkdir()
    spark.createDataFrame(
        [(1, base, 100), (2, near, 200), (3, other, 300)],
        "doc_id long, text string, ts_s long",
    ).write.json(str(src / "b1"))

    def run(tag, make):
        stream = (
            spark.readStream.schema("doc_id long, text string, ts_s long")
            .option("recursiveFileLookup", "true")
            .json(str(src))
            .select(
                "doc_id", "text",
                F.timestamp_seconds(F.col("ts_s")).alias("ts"),
            )
        )
        verdicts = make(stream)
        sink = str(tmp_path / f"out-{tag}")

        def write_batch(batch_df, batch_id):
            _doc_verdicts(batch_df).write.mode("append").json(sink)

        q = (
            verdicts.writeStream.outputMode("append")
            .foreachBatch(write_batch)
            .option("checkpointLocation", str(tmp_path / f"ckpt-{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            r.doc_id: (r.keep, r.dup_of)
            for r in spark.read.schema(
                "doc_id long, dup_of long, est_jaccard double, keep boolean"
            ).json(sink).collect()
        }

    from_plan = run(
        "plan",
        lambda s: minhash_dedup_stream_from_plan(
            s, row, threshold=0.8, watermark="10 minutes"
        ),
    )
    direct = run(
        "direct",
        lambda s: minhash_dedup_stream(
            s, num_hashes=row.r * row.b, bands=row.b,
            threshold=0.8, watermark="10 minutes",
        ),
    )
    assert from_plan == direct
    assert from_plan[1] == (True, None)
    assert from_plan[2] == (False, 1)  # near-dup suppressed under the plan
    assert from_plan[3] == (True, None)


def test_minhash_dedup_stream_from_plan_validates_row():
    import pytest

    from kassette_server_spark.operators.dedup import (
        minhash_dedup_stream_from_plan,
    )

    with pytest.raises(ValueError, match="expose 'r' and 'b'"):
        minhash_dedup_stream_from_plan(None, {"rows": 2})
    with pytest.raises(ValueError, match="r >= 1"):
        minhash_dedup_stream_from_plan(None, {"r": 0, "b": 4})


def test_minhash_dedup_stream_rejects_ragged_banding(spark):
    """num_hashes not divisible by bands would silently exclude
    signature components from every band hash — must raise."""
    import pytest

    from kassette_server_spark.operators.dedup import minhash_dedup_stream

    stream = (
        spark.readStream.format("rate").load()
        .select(
            F.col("value").alias("doc_id"),
            F.lit("x").alias("text"),
            F.col("timestamp").alias("ts"),
        )
    )
    with pytest.raises(ValueError, match="divisible"):
        minhash_dedup_stream(stream, num_hashes=8, bands=3)
