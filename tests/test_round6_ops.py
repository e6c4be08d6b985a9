"""Unit tests for the round-6 operators: point-in-time join and the
deterministic dataset splitter (their registry specs are oracle-locked
in test_oracle_parity; these pin the contracts and edge cases)."""

from __future__ import annotations

from datetime import date

import pytest
from pyspark.sql import functions as F

from kassette_server_spark.operators.merge import point_in_time_join
from kassette_server_spark.operators.sampling import dataset_split


def _dim(spark):
    return spark.createDataFrame(
        [
            ("c1", date(2025, 1, 1), "bronze"),
            ("c1", date(2025, 3, 1), "silver"),
            ("c1", date(2025, 6, 1), "gold"),
            ("c2", date(2025, 2, 1), "bronze"),
        ],
        "k string, vf date, tier string",
    )


def test_point_in_time_join_interval_semantics(spark):
    facts = spark.createDataFrame(
        [
            ("f0", "c1", date(2024, 12, 31)),  # before first version: drops
            ("f1", "c1", date(2025, 1, 1)),    # ON valid_from: inclusive
            ("f2", "c1", date(2025, 2, 28)),   # mid-interval
            ("f3", "c1", date(2025, 3, 1)),    # next version's start: half-open
            ("f4", "c1", date(2026, 1, 1)),    # open last version matches
            ("f5", "c2", date(2025, 2, 2)),
            ("f6", "c3", date(2025, 2, 2)),    # unknown key: drops
        ],
        "fid string, k string, ts date",
    )
    out = {
        r.fid: r.tier
        for r in point_in_time_join(facts, _dim(spark), ["k"], "ts", "vf").collect()
    }
    assert out == {
        "f1": "bronze",
        "f2": "bronze",
        "f3": "silver",
        "f4": "gold",
        "f5": "bronze",
    }


def test_point_in_time_join_exactly_one_version_per_fact(spark):
    """Every surviving fact matches exactly one version — the lead()
    close-out makes intervals partition the timeline per key."""
    facts = spark.createDataFrame(
        [(i, "c1", date(2025, 1 + i % 11, 1 + i % 27)) for i in range(200)],
        "fid long, k string, ts date",
    )
    out = point_in_time_join(facts, _dim(spark), ["k"], "ts", "vf")
    assert out.groupBy("fid").count().where("count > 1").count() == 0


def test_point_in_time_join_rejects_column_clash(spark):
    facts = spark.createDataFrame([("c1", date(2025, 1, 2), "x")], "k string, ts date, tier string")
    with pytest.raises(ValueError, match="clash.*tier"):
        point_in_time_join(facts, _dim(spark), ["k"], "ts", "vf")
    same_ts = spark.createDataFrame([("c1", date(2025, 1, 2))], "k string, vf date")
    with pytest.raises(ValueError, match="clash"):
        point_in_time_join(same_ts, _dim(spark), ["k"], "vf", "vf")


def test_dataset_split_deterministic_and_partition_stable(spark):
    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    a = {r.doc_id: r.split for r in dataset_split(df, "doc_id").collect()}
    b = {
        r.doc_id: r.split
        for r in dataset_split(df.repartition(17), "doc_id").collect()
    }
    assert a == b, "split assignment must not depend on partitioning"
    # growth-stable: the first 1000 ids keep their splits in a bigger corpus
    big = spark.range(4000).withColumnRenamed("id", "doc_id")
    c = {r.doc_id: r.split for r in dataset_split(big, "doc_id").collect()}
    assert all(c[i] == a[i] for i in range(2000))


def test_dataset_split_fractions_and_salt(spark):
    df = spark.range(5000).withColumnRenamed("id", "doc_id")
    counts = {
        r.split: r["count"]
        for r in dataset_split(
            df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
        ).groupBy("split").count().collect()
    }
    assert set(counts) == {"train", "val", "test"}
    assert 0.75 < counts["train"] / 5000 < 0.85
    # a different salt draws an independent assignment
    s1 = {r.doc_id: r.split for r in dataset_split(df, "doc_id", salt="a").collect()}
    s2 = {r.doc_id: r.split for r in dataset_split(df, "doc_id", salt="b").collect()}
    assert any(s1[i] != s2[i] for i in range(5000))
    with pytest.raises(ValueError, match="sum to 1"):
        dataset_split(df, "doc_id", {"train": 0.5, "test": 0.4})


def test_dataset_split_map_only_plan(spark):
    """The split must be a pure map — no Exchange in the plan."""
    df = spark.range(100).withColumnRenamed("id", "doc_id")
    plan = dataset_split(df, "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_dataset_split_null_ids_match_oracle(spark):
    """NULL ids fall through to the LAST split in BOTH engines (the
    concat_ws variant diverged here — round-6 self-review finding)."""
    import duckdb

    from kassette_server_spark.operators.sampling import dataset_split_oracle_sql

    df = spark.createDataFrame(
        [(1,), (2,), (None,), (None,)], "doc_id long"
    )
    got = [
        (r.doc_id, r.split)
        for r in dataset_split(df, "doc_id", {"train": 0.5, "test": 0.5}).collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT)")
    con.execute("INSERT INTO t VALUES (1), (2), (NULL), (NULL)")
    want = con.execute(
        dataset_split_oracle_sql("t", "doc_id", {"train": 0.5, "test": 0.5})
    ).fetchall()
    key = lambda x: (x[0] is None, x[0], x[1])  # noqa: E731
    assert sorted(got, key=key) == sorted(want, key=key)
    assert all(s == "test" for i, s in got if i is None)

    # single-split boundary: operator and oracle both accept it
    one = dataset_split(df, "doc_id", {"all": 1.0})
    assert {r.split for r in one.collect()} == {"all"}
    rows = con.execute(dataset_split_oracle_sql("t", "doc_id", {"all": 1.0})).fetchall()
    assert {r[1] for r in rows} == {"all"}
    con.close()


def test_point_in_time_join_reserves_valid_to(spark):
    facts = spark.createDataFrame([("c1", date(2025, 1, 2))], "k string, ts date")
    dim = spark.createDataFrame(
        [("c1", date(2025, 1, 1), date(2025, 2, 1))], "k string, vf date, _valid_to date"
    )
    with pytest.raises(ValueError, match="_valid_to.*reserved"):
        point_in_time_join(facts, dim, ["k"], "ts", "vf")


def test_store_refuses_legacy_flat_layout(spark, tmp_path):
    """A flat-parquet store from the pre-generation code must raise,
    not silently read as 'first batch' (which would discard state AND
    the replay fence — round-6 self-review finding)."""
    from kassette_server_spark.operators.store import read_store

    legacy = str(tmp_path / "legacy_store")
    spark.createDataFrame([(1, 5)], "reg int, m_rank int").write.parquet(legacy)
    with pytest.raises(RuntimeError, match="not generation-laid-out"):
        read_store(spark, legacy)


def test_store_crash_mid_write_recovers(spark, tmp_path):
    """Simulated crash: an UNCOMMITTED generation directory (no
    _SUCCESS) must be invisible to readers and reclaimed by the next
    write at that generation."""
    from kassette_server_spark.operators import sketches
    from kassette_server_spark.operators.store import committed_generations, read_store

    store = str(tmp_path / "hll")
    b0 = spark.createDataFrame([("a",)], "v string")
    sketches.hll_merge_into_store(b0, "v", store)
    assert committed_generations(store) == [0]
    before = sorted((r.reg, r.m_rank) for r in read_store(spark, store).collect())

    # crash mid-write of the next generation: half-written dir, no
    # _SUCCESS marker
    import os

    half = os.path.join(store, "gen-1")
    os.makedirs(half)
    with open(os.path.join(half, "part-00000.parquet"), "w") as f:
        f.write("garbage, not parquet")
    assert committed_generations(store) == [0]
    assert sorted(
        (r.reg, r.m_rank) for r in read_store(spark, store).collect()
    ) == before

    # the retry reclaims the dir and commits cleanly
    b1 = spark.createDataFrame([("b",)], "v string")
    sketches.hll_merge_into_store(b1, "v", store)
    assert committed_generations(store) == [1]
    # the store is the single-pass sketch of both batches: nothing lost
    both = sketches.hll_registers(b0.unionByName(b1), "v")
    assert sorted(
        (r.reg, r.m_rank) for r in read_store(spark, store).collect()
    ) == sorted((r.reg, r.m_rank) for r in both.collect())


def test_pareto_frontier_dominance_semantics(spark):
    from kassette_server_spark.operators.stats import pareto_frontier_2d

    pts = [
        (1, 9), (2, 7), (3, 7),   # (3,7) dominated by (2,7): equal y, worse x
        (2, 8),                   # dominated by (2,7)
        (4, 4), (4, 4),           # duplicate point: appears once
        (9, 1), (10, 1),          # (10,1) dominated
        (5, 5),                   # dominated by (4,4)
    ]
    df = spark.createDataFrame(pts, "x long, y long")
    got = sorted((r.x, r.y) for r in pareto_frontier_2d(df, "x", "y").collect())
    assert got == [(1, 9), (2, 7), (4, 4), (9, 1)]


def test_pareto_frontier_local_prune_is_sound(spark):
    """Every bucket count (incl. 1: everything in one local pass, and
    huge: every point its own bucket, so the local phase prunes
    nothing) must give the identical frontier — the pruning-soundness
    argument (domination is witnessed transitively by a surviving
    frontier point) made executable."""
    import random

    from kassette_server_spark.operators.stats import pareto_frontier_2d

    rng = random.Random(7)
    pts = [(rng.randrange(100), rng.randrange(100)) for _ in range(500)]
    df = spark.createDataFrame(pts, "x long, y long")
    expected = None
    for nb in (1, 4, 64, 10_000):
        got = sorted(
            (r.x, r.y) for r in pareto_frontier_2d(df, "x", "y", n_buckets=nb).collect()
        )
        expected = got if expected is None else expected
        assert got == expected, f"n_buckets={nb} changed the frontier"
    # brute-force model
    distinct = set(pts)
    brute = sorted(
        p for p in distinct
        if not any(
            q[0] <= p[0] and q[1] <= p[1] and q != p for q in distinct
        )
    )
    assert expected == brute


def test_weighted_median_hand_case(spark):
    from kassette_server_spark.operators.stats import weighted_median_by

    rows = [("a", 10, 1), ("a", 20, 2), ("a", 30, 1),  # cum: 1,3,4 tot 4 → 2*cum>=4 at v=20
            ("b", 5, 10),                                # single value
            ("c", 1, 1), ("c", 2, 1)]                    # tot 2 → 2*1>=2 at v=1 (lower median)
    df = spark.createDataFrame(rows, "g string, v long, w long")
    got = {r.grp: (r.wmedian, r.tot_weight) for r in weighted_median_by(df, "g", "v", "w").collect()}
    assert got == {"a": (20, 4), "b": (5, 10), "c": (1, 2)}
