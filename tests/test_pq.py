"""Product quantization: numpy differential parity, encode/ADC
invariants, and failure fences (VERDICT r11 #3)."""

from __future__ import annotations

import numpy as np
import pytest
from conftest import SF_SMOKE

from kassette_server_spark.catalog import load
from kassette_server_spark.operators.pq import (
    _raw,
    _seed_codebook,
    _update_partials,
    exact_int8_l2_topk,
    pq_adc_topk,
    pq_encode,
    pq_fit_summary,
    pq_recall_at_k,
    pq_train,
)

M, K, D = 8, 16, 64
d = D // M


def _numpy_pq(pdf, iters=2):
    """Independent reference implementation: quantize → seed → Lloyd
    with floored integer centroid means. Returns (Q, ids, book, codes)
    where codes is the assignment of the FINAL codebook."""
    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    X = np.stack(pdf["embedding"].values).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    mx = np.abs(X).max(axis=1)
    Q = np.round(X * 127.0 / mx[:, None]).astype(np.int64)
    seeds = Q[np.argsort(ids)[:K]]
    book = {mi: {j: seeds[j, mi * d : (mi + 1) * d].copy() for j in range(K)} for mi in range(M)}

    def assign(book):
        codes = np.empty((len(Q), M), dtype=np.int64)
        for mi in range(M):
            cids = sorted(book[mi])
            C = np.stack([book[mi][c] for c in cids])
            S = Q[:, mi * d : (mi + 1) * d]
            dist = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            codes[:, mi] = np.array(cids)[dist.argmin(axis=1)]
        return codes

    for _ in range(iters):
        codes = assign(book)
        book = {
            mi: {
                int(c): np.floor_divide(
                    Q[codes[:, mi] == c, mi * d : (mi + 1) * d].sum(axis=0),
                    int((codes[:, mi] == c).sum()),
                )
                for c in sorted(set(codes[:, mi].tolist()))
            }
            for mi in range(M)
        }
    return Q, ids, book, assign(book)


def test_pq_train_matches_numpy_reference(spark):
    e = load(spark, SF_SMOKE, "embeddings")
    _, _, ref_book, _ = _numpy_pq(e.toPandas())
    book = pq_train(e, m=M, k=K, iters=2, dim=D)
    for mi in range(M):
        got = {cid: coords for cid, coords in book[mi]}
        assert set(got) == set(ref_book[mi])
        for cid, coords in got.items():
            assert coords == tuple(int(v) for v in ref_book[mi][cid]), (mi, cid)


def test_pq_update_partials_fold_per_partition(spark):
    """With many Arrow batches per partition the update kernel still
    yields ≤ M·K partial rows per partition (the driver collect is
    bounded by plan size, not batch count), and training still matches
    the numpy reference."""
    e = load(spark, SF_SMOKE, "embeddings")
    _, _, ref_book, _ = _numpy_pq(e.toPandas())
    parts = 3
    vdf = _raw(e, "vec_id", "embedding", "_pid").repartition(parts)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "16")  # ~10 batches per partition at sf0.001
    try:
        book0 = _seed_codebook(vdf, M, K, D, quantize=True)
        rows = _update_partials(vdf, book0, M, d, quantize=True).collect()
        book = pq_train(e.repartition(parts), m=M, k=K, iters=2, dim=D)
    finally:
        spark.conf.set(key, prev)
    assert len(rows) <= parts * M * K
    assert sum(r["n"] for r in rows) == M * e.count()
    for mi in range(M):
        assert dict(book[mi]) == {
            cid: tuple(int(v) for v in c) for cid, c in ref_book[mi].items()
        }


def test_pq_fit_summary_moments_match_numpy(spark):
    e = load(spark, SF_SMOKE, "embeddings")
    Q, ids, ref_book, codes_prev = _numpy_pq(e.toPandas())
    # n = cluster sizes of the assignment pass that PRODUCED the final
    # book (pass `iters`), centroids = that update's output
    _, _, _, _ = Q, ids, ref_book, codes_prev
    # recompute pass-2 assignment sizes: assignment under book after
    # ONE update
    Q2, ids2, book1, _ = _numpy_pq(e.toPandas(), iters=1)

    def assign_sizes(book):
        sizes = {}
        for mi in range(M):
            cids = sorted(book[mi])
            C = np.stack([book[mi][c] for c in cids])
            S = Q2[:, mi * d : (mi + 1) * d]
            dist = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            best = np.array(cids)[dist.argmin(axis=1)]
            for c in cids:
                n = int((best == c).sum())
                if n:
                    sizes[(mi, int(c))] = n
        return sizes

    sizes = assign_sizes(book1)
    rows = {(r["m"], r["cid"]): r for r in pq_fit_summary(e, m=M, k=K, iters=2).collect()}
    assert set(rows) == set((mi, c) for mi in range(M) for c in ref_book[mi])
    for (mi, c), r in rows.items():
        cc = ref_book[mi][c]
        assert r["n"] == sizes[(mi, c)]
        assert r["c_sum"] == int(cc.sum())
        assert r["c_sqsum"] == int((cc * cc).sum())


def test_pq_encode_and_adc_match_numpy(spark):
    e = load(spark, SF_SMOKE, "embeddings")
    Q, ids, book, codes = _numpy_pq(e.toPandas())
    spark_book = pq_train(e, m=M, k=K, iters=2, dim=D)
    enc = {r["neighbor_id"]: list(r["codes"]) for r in pq_encode(e, spark_book).collect()}
    for i, vid in enumerate(ids):
        assert enc[int(vid)] == codes[i].tolist(), vid

    # ADC distances: exact table-sum reference, top-10 per query
    qsel = np.where(ids % 100 == 0)[0]
    expect = []
    for qi in qsel:
        tab = {
            (mi, c): int(((Q[qi, mi * d : (mi + 1) * d] - cc) ** 2).sum())
            for mi in range(M)
            for c, cc in book[mi].items()
        }
        cand = sorted(
            (sum(tab[(mi, codes[ni, mi])] for mi in range(M)), int(ids[ni]))
            for ni in range(len(ids))
            if ids[ni] != ids[qi]
        )[:10]
        expect += [(int(ids[qi]), nid, dist, r) for r, (dist, nid) in enumerate(cand, 1)]
    got = [
        (r["query_id"], r["neighbor_id"], r["adc_dist"], r["rank"])
        for r in pq_adc_topk(e, e.filter("vec_id % 100 = 0"), book=spark_book).collect()
    ]
    assert sorted(got) == sorted(expect)


def test_pq_recall_bounds_and_exact_self_recall(spark):
    """recall ∈ [0,1]; and the exact search judged against ITSELF is
    recall 1.0 by construction (sanity of the gate plumbing)."""
    e = load(spark, SF_SMOKE, "embeddings")
    q = e.filter("vec_id % 100 = 0")
    rec = pq_recall_at_k(e, q).collect()
    assert len(rec) == q.count()
    for r in rec:
        assert 0.0 <= r["recall"] <= 1.0
        assert r["n_hits"] == int(round(r["recall"] * 10))
    exact = exact_int8_l2_topk(e, q)
    joined = (
        exact.select("query_id", "neighbor_id")
        .join(exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .count()
        .collect()
    )
    assert all(r["count"] == 10 for r in joined)


def test_pq_dimension_fences(spark):
    e = load(spark, SF_SMOKE, "embeddings")
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(e, m=7, dim=D)
    with pytest.raises(ValueError, match="iters"):
        pq_train(e, iters=0)


# ---------------------------------------------------------------------------
# IVF-PQ (r12): coarse cells + residual PQ + nprobe pruning
# ---------------------------------------------------------------------------

KC, NPROBE, TOPK = 8, 2, 10


def _numpy_coarse(Q, ids, kc=KC, iters=2):
    """Independent coarse-quantizer reference: seed = kc smallest ids,
    Lloyd with floored integer means, final assignment. Returns
    (assigned cids per row, book dict)."""
    seeds = Q[np.argsort(ids)[:kc]]
    book = {j: seeds[j].copy() for j in range(kc)}

    def assign(book):
        cids = sorted(book)
        C = np.stack([book[c] for c in cids])
        a = ((Q[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
        return np.array(cids)[a]

    for _ in range(iters):
        acids = assign(book)
        book = {
            int(c): np.floor_divide(
                Q[acids == c].sum(axis=0), int((acids == c).sum())
            )
            for c in sorted(set(acids.tolist()))
        }
    return assign(book), book


def test_ivfpq_cell_stats_match_numpy(spark):
    """q248's per-cell populations and residual moments against the
    independent numpy coarse quantizer."""
    from kassette_server_spark.operators.pq import ivfpq_cell_stats

    df = load(spark, SF_SMOKE, "embeddings")
    got = {
        int(r["cid"]): (int(r["n"]), int(r["r_sum"]), int(r["r_sqsum"]))
        for r in ivfpq_cell_stats(df, kc=KC, iters=2).collect()
    }
    pdf = df.select("vec_id", "embedding").toPandas()
    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    X = np.stack(pdf["embedding"].values).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    mx = np.abs(X).max(axis=1)
    Q = np.round(X * 127.0 / mx[:, None]).astype(np.int64)
    acids, book = _numpy_coarse(Q, ids)
    want = {}
    for c in sorted(set(acids.tolist())):
        R = Q[acids == c] - book[int(c)][None, :]
        want[int(c)] = (
            int((acids == c).sum()),
            int(R.sum()),
            int((R * R).sum()),
        )
    assert got == want


def test_ivfpq_search_candidates_respect_probed_cells(spark):
    """Every returned neighbor must live in one of its query's nprobe
    probed cells (the pruning contract), ranks must be dense 1..topk,
    and adc_dist nondecreasing within a query."""
    from kassette_server_spark.operators.pq import (
        ivf_train_coarse,
        ivfpq_adc_topk,
    )

    df = load(spark, SF_SMOKE, "embeddings")
    queries = df.filter("vec_id % 100 = 0")
    out = ivfpq_adc_topk(
        df, queries, kc=KC, m=M, k=K, iters=2, topk=TOPK, nprobe=NPROBE
    ).toPandas()
    coarse = ivf_train_coarse(df, kc=KC, iters=2)
    cids = np.array([c for c, _ in coarse])
    C = np.stack([np.array(v) for _, v in coarse])

    pdf = df.select("vec_id", "embedding").toPandas()
    X = np.stack(pdf["embedding"].values).astype(np.float64)
    mx = np.abs(X).max(axis=1)
    Q = np.round(X * 127.0 / mx[:, None]).astype(np.int64)
    ids = pdf["vec_id"].to_numpy()
    dist = ((Q[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    cell_of = dict(zip(ids.tolist(), cids[dist.argmin(axis=1)].tolist()))
    probed = {
        int(i): set(cids[np.argsort(dist[n], kind="stable")[:NPROBE]].tolist())
        for n, i in enumerate(ids.tolist())
    }
    for qid, grp in out.groupby("query_id"):
        assert sorted(grp["rank"]) == list(range(1, len(grp) + 1))
        assert len(grp) <= TOPK
        srt = grp.sort_values("rank")
        assert (np.diff(srt["adc_dist"].to_numpy()) >= 0).all()
        for nid in grp["neighbor_id"]:
            assert cell_of[int(nid)] in probed[int(qid)], (qid, nid)


def test_ivfpq_recall_bounds_and_join_consistency(spark):
    """recall ∈ [0, 1], n_hits equals the actual intersection of the
    two searches' neighbor sets per query."""
    from kassette_server_spark.operators.pq import (
        exact_int8_l2_topk,
        ivfpq_adc_topk,
        ivfpq_recall_at_k,
    )

    df = load(spark, SF_SMOKE, "embeddings")
    queries = df.filter("vec_id % 100 = 0")
    rec = ivfpq_recall_at_k(
        df, queries, kc=KC, m=M, k=K, iters=2, topk=TOPK, nprobe=NPROBE
    ).toPandas()
    assert ((rec["recall"] >= 0) & (rec["recall"] <= 1)).all()
    approx = ivfpq_adc_topk(
        df, queries, kc=KC, m=M, k=K, iters=2, topk=TOPK, nprobe=NPROBE
    ).toPandas()
    exact = exact_int8_l2_topk(df, queries, topk=TOPK).toPandas()
    for _, row in rec.iterrows():
        a = set(approx[approx.query_id == row.query_id]["neighbor_id"])
        e = set(exact[exact.query_id == row.query_id]["neighbor_id"])
        assert int(row.n_hits) == len(a & e)


def test_ivfpq_full_probe_equals_flat_residual_pq(spark):
    """With nprobe = kc (no pruning) every corpus vector is scored, so
    the only difference from flat PQ is residual-space quantization —
    the result must still be a valid dense top-k per query."""
    from kassette_server_spark.operators.pq import ivfpq_adc_topk

    df = load(spark, SF_SMOKE, "embeddings")
    queries = df.filter("vec_id % 200 = 0")
    out = ivfpq_adc_topk(
        df, queries, kc=KC, m=M, k=K, iters=2, topk=TOPK, nprobe=KC
    ).toPandas()
    for _, grp in out.groupby("query_id"):
        assert len(grp) == TOPK
        assert sorted(grp["rank"]) == list(range(1, TOPK + 1))


def test_ivfpq_index_partition_pruned_search(spark, tmp_path):
    """The SCALE.md claim demonstrated: an index written cell-partitioned
    (ivfpq_write_index) makes the nprobe search a PARTITION-PRUNED scan —
    the literal ccid IN-list lands in the FileScan's PartitionFilters,
    only the probed cells' directories are read, and the results are
    identical to the in-memory ivfpq_adc_topk with the same codebooks."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from kassette_server_spark.operators.pq import (
        ivfpq_adc_topk,
        ivfpq_search_index,
        ivfpq_write_index,
    )

    emb = load(spark, SF_SMOKE, "embeddings")
    # two query rows probe <= 4 of the 8 cells, so pruning must drop
    # at least half the directories
    q = emb.where(F.col("vec_id").isin([0, 250]))
    path = str(tmp_path / "ivfpq_index")
    coarse, book = ivfpq_write_index(emb, path, kc=8, m=M, k=K, iters=2, dim=D)

    res = ivfpq_search_index(
        spark, path, q, coarse, book, m=M, k=K, dim=D, topk=5, nprobe=2
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        res.explain("formatted")
    p = buf.getvalue()
    scan = p[p.index("Scan parquet") :]
    pf = scan.split("PartitionFilters:")[1].splitlines()[0]
    assert "ccid" in pf and " IN (" in pf

    # files actually read: only the probed cells' directories
    import os

    all_cells = {
        e.split("=")[1] for e in os.listdir(path) if e.startswith("ccid=")
    }
    probed = {
        s.strip() for s in pf[pf.index("IN (") + 4 : pf.index(")")].split(",")
    }
    assert probed < all_cells  # strictly fewer: pruning is real

    expect = ivfpq_adc_topk(
        emb, q, kc=8, m=M, k=K, iters=2, dim=D, topk=5, nprobe=2,
        coarse=coarse, book=book,
    )
    assert sorted(map(tuple, res.collect())) == sorted(
        map(tuple, expect.collect())
    )


# -- codebook generations: the re-train flip -----------------------------------
def test_ivfpq_generation_flip_end_to_end(spark, tmp_path):
    """VERDICT r13 #4: after a drifted stream, generation 1 trains on
    the current corpus and commits a fresh index directory, the
    searcher picks up gen-1 by default while gen-0 stays immutable and
    byte-identically readable, and the flip itself is replay-safe
    (crash → invisible; redo → idempotent)."""
    import os

    import numpy as np
    from pyspark.sql import functions as F

    from kassette_server_spark.operators.pq import (
        ivfpq_adc_topk,
        ivfpq_committed_generations,
        ivfpq_load_generation,
        ivfpq_search_generation,
        ivfpq_write_generation,
    )

    emb = load(spark, SF_SMOKE, "embeddings")
    b0 = emb.where(F.col("vec_id") % 2 == 0)
    root = str(tmp_path / "gens")

    # generation 0 serves the b0 corpus
    ivfpq_write_generation(b0, root, 0, kc=8, m=M, k=K, iters=2, dim=D)
    assert ivfpq_committed_generations(root) == [0]
    q = emb.where(F.col("vec_id").isin([0, 250]))
    res0 = sorted(
        map(tuple, ivfpq_search_generation(spark, root, q, m=M, k=K, dim=D).collect())
    )

    # a drifted stream arrives
    rng = np.random.default_rng(7)
    shifted = spark.createDataFrame(
        [
            (10_000 + i, [float(x) for x in rng.choice([-1.0, 1.0], size=D)])
            for i in range(64)
        ],
        "vec_id long, embedding array<float>",
    )

    # FLIP: generation 1 trains on the current corpus (served + drifted)
    corpus1 = b0.select("vec_id", "embedding").unionByName(shifted)
    # crash simulation first: index written, sidecar never lands
    coarse1, book1 = ivfpq_write_generation(
        corpus1, root, 1, kc=8, m=M, k=K, iters=2, dim=D
    )
    marker = os.path.join(root, "gen-1", "codebooks.json")
    saved = open(marker).read()
    os.remove(marker)
    assert ivfpq_committed_generations(root) == [0]  # crash: gen-1 invisible
    with open(marker, "w") as f:
        f.write(saved)
    # replay of a committed flip: idempotent, returns the COMMITTED books
    c1b, b1b = ivfpq_write_generation(corpus1, root, 1, kc=8, m=M, k=K, iters=2, dim=D)
    assert (c1b, sorted(b1b.items())) == (coarse1, sorted(book1.items()))
    assert ivfpq_committed_generations(root) == [0, 1]

    # the default searcher now reads gen-1, equal to the in-memory twin
    g, _, _, _ = ivfpq_load_generation(root)
    assert g == 1
    res1 = ivfpq_search_generation(spark, root, q, m=M, k=K, dim=D)
    twin1 = ivfpq_adc_topk(
        corpus1, q, kc=8, m=M, k=K, iters=2, dim=D,
        coarse=coarse1, book=book1,
    )
    assert sorted(map(tuple, res1.collect())) == sorted(map(tuple, twin1.collect()))

    # gen-0 stays immutable and answers exactly as before the flip
    res0_after = sorted(
        map(
            tuple,
            ivfpq_search_generation(spark, root, q, generation=0, m=M, k=K, dim=D).collect(),
        )
    )
    assert res0_after == res0
