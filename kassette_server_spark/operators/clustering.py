"""Distributed Lloyd's k-means over numeric feature columns.

Spark MLlib has KMeans, but (a) its init (k-means||) is randomized and
engine-private, so results can never be oracle-checked, and (b) it
drags in the RDD-based mllib runtime for what is, per iteration, just
"argmin over k quadratics, then a grouped sum". This implementation is
the pure-DataFrame formulation:

- centroids live on the DRIVER as k plain Python tuples (k is tiny by
  definition); each assignment pass embeds them as literal expressions,
  so assignment is map-side-only — ZERO join, ZERO extra shuffle;
- the per-iteration shuffle is the centroid update's
  ``groupBy(cid).agg(sum...)`` — after map-side combine, the exchange
  carries at most k rows per map partition. Per-iteration cost at
  100 TB: one scan + one k-row-wide shuffle. The ≤k-row ``collect()``
  between iterations is bounded by construction.
- every plan is rebuilt from literals each round, so lineage stays
  O(1)-deep across iterations (no localCheckpoint needed, unlike the
  self-referential join formulation).

Determinism (what makes the q96 oracle possible): init = the k rows
with the smallest ids; sums of integer-valued features are exact
BIGINTs; the only floating-point ops are centroid = sum/n (one
correctly-rounded IEEE division) and the distance quadratic (fixed
association) — both bit-identical in Spark, DuckDB, and driver-side
Python. Ties in the argmin break toward the smaller centroid id via
struct ordering. Callers with non-integer features lose the
exact-parity guarantee but not correctness.

Empty clusters are dropped (a centroid that attracts no points leaves
the centroid set), matching the SQL formulation where the update CTE
simply has no row for it.

Reference parity: the reference has no clustering; §2.3 north-star
(IVF coarse quantizers in operators/similarity.py want exactly this
fit step).
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import FloatType

from .store import local_frame

_INT64_MAX = 2**63 - 1


def _assign(pts: DataFrame, feature_cols: list[str], centroids: list[tuple]) -> DataFrame:
    """Add ``cid``: index of the nearest centroid (ties → smaller cid).

    ``centroids[j]`` is (cid, f0, f1, ...) with Python-float coords.
    Builds array<struct<dist,cid>> from literals and takes array_min —
    struct comparison orders by dist first, then cid.
    """
    entries = []
    for row in centroids:
        cid, coords = row[0], row[1:]
        dist = None
        for col_name, c in zip(feature_cols, coords):
            term = (F.col(col_name) - F.lit(float(c))) * (
                F.col(col_name) - F.lit(float(c))
            )
            dist = term if dist is None else dist + term
        entries.append(F.struct(dist.alias("d"), F.lit(int(cid)).alias("cid")))
    return pts.withColumn("cid", F.array_min(F.array(*entries))["cid"])


def kmeans_fit(
    df: DataFrame,
    feature_cols: list[str],
    k: int = 4,
    iters: int = 2,
    id_col: str = "id",
) -> DataFrame:
    """Run ``iters`` assignment passes (Lloyd), updating centroids
    between passes, and return the final per-cluster summary:

    (cid, n, sum_<f>... BIGINT-exact, c_<f>... double centroids).

    Feature columns must be numeric; they are summed as BIGINT for the
    exactness contract, so integer-valued features give bit-portable
    output. Init: the k rows with the smallest ``id_col``.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    pts = df.select(
        F.col(id_col).alias("_pid"),
        *[F.col(c).cast("double").alias(c) for c in feature_cols],
    )
    init_rows = pts.orderBy("_pid").limit(k).collect()  # bounded: k rows
    centroids = [
        (j, *[float(r[c]) for c in feature_cols]) for j, r in enumerate(init_rows)
    ]
    sums = [F.sum(F.col(c).cast("long")).alias(f"sum_{c}") for c in feature_cols]
    for _ in range(iters - 1):
        updated = (
            _assign(pts, feature_cols, centroids)
            .groupBy("cid")
            .agg(F.count("*").alias("n"), *sums)
            .collect()  # bounded: <= k rows
        )
        centroids = [
            (r["cid"], *[r[f"sum_{c}"] / r["n"] for c in feature_cols])
            for r in sorted(updated, key=lambda r: r["cid"])
        ]
    final = (
        _assign(pts, feature_cols, centroids)
        .groupBy("cid")
        .agg(F.count("*").cast("long").alias("n"), *sums)
    )
    ctr = [
        (F.col(f"sum_{c}").cast("double") / F.col("n")).alias(f"c_{c}")
        for c in feature_cols
    ]
    return final.select(F.col("cid").cast("long"), "n", *ctr)


def _gram_partials(batches):
    """mapInArrow kernel over one array<bigint> column: fold the
    partition's exact upper-triangular XᵀX (nulls and the ragged tail
    count as 0) and per-dim non-null counts across ALL its Arrow
    batches, and yield one (nd, g, nz) row — nd = the longest array.

    Each partial stays inside int64: |G_ij| ≤ rows·max|x|², so rows
    are folded in chunks whose bound fits, and a partition whose
    running bound would pass 2⁶³ yields early instead of wrapping (one
    row per partition below ~9·10¹⁰ unit-norm rows at x_scale 10⁴)."""
    g = np.zeros((0, 0), np.int64)
    nz = np.zeros(0, np.int64)
    nd, bound = -1, 0

    def flush():
        iu = np.triu_indices(nd)
        return pa.RecordBatch.from_arrays(
            [
                pa.array([nd], pa.int32()),
                pa.array([g[iu]], pa.list_(pa.int64())),
                pa.array([nz], pa.list_(pa.int64())),
            ],
            names=["nd", "g", "nz"],
        )

    for b in batches:
        q = b.column(0)
        lens = pc.list_value_length(q).fill_null(0).to_numpy().astype(np.int64)
        if not pc.any(q.is_valid()).as_py():
            continue
        width = int(lens.max())
        flat = q.flatten()
        rows = np.repeat(np.arange(len(q)), lens)
        pos = np.arange(len(flat)) - np.repeat(np.cumsum(lens) - lens, lens)
        X = np.zeros((len(q), width), np.int64)
        X[rows, pos] = flat.fill_null(0).to_numpy()
        seen = np.bincount(pos[flat.is_valid().to_numpy(False)], minlength=width)
        top = max(-int(X.min()), int(X.max())) if X.size else 0
        if top * top > _INT64_MAX:
            raise ValueError(f"quantized component {top} squares past int64")
        step = _INT64_MAX // max(top * top, 1)
        for s in range(0, len(q), step):
            chunk = X[s : s + step]
            if bound + len(chunk) * top * top > _INT64_MAX:
                yield flush()
                g[:], nz[:], bound = 0, 0, 0
            bound += len(chunk) * top * top
            if width > nd:
                g = np.pad(g, (0, width - max(nd, 0)))
                nz = np.pad(nz, (0, width - max(nd, 0)))
                nd = width
            g[:width, :width] += chunk.T @ chunk
        nz[:width] += seen
    if nd >= 0:
        yield flush()


def _round_half_up(x: float) -> int:
    # Spark's round(double) is BigDecimal HALF_UP on the double's
    # shortest repr, which lies on the same side of every .5 as the
    # exact binary value Decimal(x) holds; Python's round() is
    # half-even
    return int(Decimal(x).quantize(Decimal(1), rounding=ROUND_HALF_UP))


def power_iteration_top_component(
    df: DataFrame,
    vec_col: str = "embedding",
    iters: int = 3,
    x_scale: int = 10_000,
    v_scale: int = 100_000,
) -> DataFrame:
    """Top principal direction of X'X by ``iters`` fixed-point power
    iterations — the distributed-PCA reduce step (whitening, SemDeDup
    axes, embedding drift) made engine-reproducible.

    Float power iteration is summation-order-dependent twice per pass;
    here every accumulation is EXACT integer arithmetic: embeddings
    quantize to ``round(x·x_scale)`` (in Spark), the direction to
    ``round(v·v_scale)``. ONE Spark job scans X: a per-partition
    kernel folds the exact int64 Gram matrix G = XᵀX
    (``_gram_partials``) and the driver sums the ≤ partitions ×
    d(d+1)/2 partials in Python ints — exact at any corpus size. The
    iterations then run on the driver over the d×d matrix (Spark
    MLlib's ``RowMatrix.computePrincipalComponents`` shape): w = G·v
    in Python ints, which is the very integer the row-wise loop
    builds, since Σ_r x_rj·(Σ_i x_ri·v_i) = Σ_i G_ji·v_i. The only
    floats are the ones the oracle's SQL takes, in the same order:
    ‖w‖ = sqrt(float(Σ w²)), then HALF_UP round(float(w)·v_scale/‖w‖)
    — correctly rounded IEEE steps, identical everywhere.

    Every row is one vector; null elements and the tail of a shorter
    array count as 0. Null semantics follow the SQL plan the oracle
    unrolls: a dim with no non-null element anywhere gets a null
    ``vj``, and a zero norm nulls every ``vj`` (non-ANSI division).

    Output: (dim, vj) — the unit direction × v_scale, dims 1..max
    array length, as a one-slice local frame.
    """
    spark = df.sparkSession
    # FLOAT·INT must stay FLOAT, as non-ANSI Spark and the oracle's
    # DuckDB compute it; ANSI coercion would widen it to DOUBLE
    scale = F.lit(x_scale)
    if df.schema[vec_col].dataType.elementType == FloatType():
        scale = scale.cast("float")
    q = df.select(
        F.transform(F.col(vec_col), lambda e: F.round(e * scale).cast("long"))
    )
    parts = q.mapInArrow(
        _gram_partials, "nd int, g array<bigint>, nz array<bigint>"
    ).collect()  # bounded: partitions × d(d+1)/2
    n_dims = max((r["nd"] for r in parts), default=0)
    G = [[0] * n_dims for _ in range(n_dims)]
    seen = [0] * n_dims
    for r in parts:
        tri = iter(r["g"])
        for i in range(r["nd"]):
            seen[i] += r["nz"][i]
            for j in range(i, r["nd"]):
                G[i][j] += next(tri)
    for i in range(n_dims):
        for j in range(i):
            G[i][j] = G[j][i]
    # a dim with no non-null element has a zero G row and column, so
    # while any v_i lives the live dims are exactly the seen ones
    v = [int(round(v_scale / n_dims**0.5))] * n_dims if n_dims else []
    for _ in range(iters):
        live = any(vi is not None for vi in v)
        w = [
            sum(g * vi for g, vi in zip(G[j], v) if vi is not None)
            if live and seen[j]
            else None
            for j in range(n_dims)
        ]
        nrm = math.sqrt(float(sum(wj * wj for wj in w if wj is not None)))
        v = [
            None
            if wj is None or nrm == 0
            else _round_half_up(float(wj) * v_scale / nrm)
            for wj in w
        ]
    return local_frame(
        spark, [(j + 1, vj) for j, vj in enumerate(v)], "dim int, vj long"
    )


def power_iteration_oracle_sql(
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_dims: int = 64,
    iters: int = 3,
    x_scale: int = 10_000,
    v_scale: int = 100_000,
) -> str:
    """DuckDB SQL unrolling the identical integer iterations."""
    seed = int(round(v_scale / n_dims**0.5))
    ctes = [
        f"""x AS (
          SELECT {id_col} AS rid, u.i AS dim,
                 CAST(round({vec_col}[u.i] * {x_scale}) AS BIGINT) AS xi
          FROM {table}, unnest(CAST(range(1, {n_dims} + 1) AS BIGINT[])) AS u(i)
        )""",
        f"v0 AS (SELECT DISTINCT dim, CAST({seed} AS BIGINT) AS vj FROM x)",
    ]
    for i in range(iters):
        ctes.append(
            f"d{i + 1} AS (SELECT x.rid, SUM(x.xi * v.vj) AS dot "
            f"FROM x JOIN v{i} v USING (dim) GROUP BY x.rid)"
        )
        ctes.append(
            f"w{i + 1} AS (SELECT x.dim, SUM(x.xi * d.dot) AS w "
            f"FROM x JOIN d{i + 1} d USING (rid) GROUP BY x.dim)"
        )
        ctes.append(
            f"n{i + 1} AS (SELECT sqrt(CAST(SUM(CAST(w AS HUGEINT) * w) AS DOUBLE)) AS nrm FROM w{i + 1})"
        )
        ctes.append(
            f"v{i + 1} AS (SELECT dim, CAST(round(CAST(w AS DOUBLE) * {v_scale} / nrm) AS BIGINT) AS vj "
            f"FROM w{i + 1}, n{i + 1})"
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT dim, vj FROM v{iters}"
