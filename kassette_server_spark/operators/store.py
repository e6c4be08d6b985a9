"""Crash-safe parquet micro-store shared by the foreachBatch state
keepers (HLL and histogram registers, the SCD2 dimension, the
priority-sample reservoir).

Why this exists (ADVICE r5, medium): the first-generation stores did
``spark.read.parquet(path)`` inside ``except Exception`` and rewrote
the path with a non-atomic ``mode("overwrite")``. Two failure modes:

1. A crash mid-overwrite leaves a half-written directory; the next
   read raises, the bare except classifies that as "first batch", and
   the store — including the ``merged_through`` replay fence — is
   silently rebuilt from empty, after which replayed batches are
   re-applied (double counting / corrupted SCD2 history).
2. ANY transient read error (permissions, corrupt footer) was also
   swallowed into "first batch".

Layout here: ``<path>/gen-<n>/`` — each generation is a complete
parquet directory written by Spark, which drops a ``_SUCCESS`` marker
only after every task file is committed. ``read_store`` picks the
HIGHEST generation that has ``_SUCCESS``; an uncommitted directory
(crash mid-write) is invisible to readers and simply deleted and
rewritten on the next attempt. Older committed generations are pruned
only AFTER the new one is committed, so there is always at least one
readable committed state; a crash between commit and prune leaves an
extra old generation that the max-generation rule ignores. Genuine
read errors on a COMMITTED generation propagate — they are data loss,
not "first batch".

Scale/portability: these stores are bounded control-plane state
(≤ 2^p register rows, k sample rows, dimension-sized history), so
POSIX ``os``/``shutil`` on a driver-visible path is appropriate; on
HDFS/S3 swap the listing/prune for the Hadoop FileSystem API or keep
the same generation layout under a Delta/Iceberg table — the commit
protocol (write-then-marker, read-max-committed, prune-after) is
unchanged.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession

_GEN_RE = re.compile(r"^gen-(\d+)$")


def committed_generations(store_path: str) -> list[int]:
    """Sorted generation numbers with a ``_SUCCESS`` commit marker.

    A populated directory that is NOT generation-laid-out (e.g. a
    flat-parquet store written by the pre-generation code, or an
    unrelated path) raises instead of reading as "no commits": treating
    it as first-batch would silently discard existing state AND its
    replay fence — the exact bug this module exists to prevent. Migrate
    a legacy store by moving its files under ``<path>/gen-0/`` (they
    already contain Spark's ``_SUCCESS`` marker).
    """
    if not os.path.isdir(store_path):
        return []
    out = []
    foreign = []
    for d in os.listdir(store_path):
        m = _GEN_RE.match(d)
        if m:
            if os.path.exists(os.path.join(store_path, d, "_SUCCESS")):
                out.append(int(m.group(1)))
        else:
            foreign.append(d)
    if foreign and not out:
        raise RuntimeError(
            f"store at {store_path!r} is not generation-laid-out "
            f"(found {sorted(foreign)[:5]}); refusing to treat existing "
            "state as 'first batch' — move legacy parquet under "
            f"{store_path}/gen-0/ to migrate"
        )
    return sorted(out)


def read_store(spark: SparkSession, store_path: str) -> DataFrame | None:
    """Latest committed generation, or None iff no commit ever
    succeeded. Read errors on a committed generation PROPAGATE."""
    gens = committed_generations(store_path)
    if not gens:
        return None
    return spark.read.parquet(os.path.join(store_path, f"gen-{gens[-1]}"))


def write_store(df: DataFrame, store_path: str, generation: int) -> None:
    """Commit ``df`` as ``gen-<generation>``; prune older generations
    only after the new commit exists. ``generation`` must exceed every
    committed generation (callers use the foreachBatch batch_id, or
    ``next_generation`` for unfenced stores)."""
    gens = committed_generations(store_path)
    if gens and generation <= gens[-1]:
        raise ValueError(
            f"generation {generation} <= committed high-water {gens[-1]}"
        )
    target = os.path.join(store_path, f"gen-{generation}")
    if os.path.isdir(target):  # uncommitted leftover from a crash
        shutil.rmtree(target)
    df.write.mode("overwrite").parquet(target)
    for g in committed_generations(store_path)[:-1]:
        shutil.rmtree(os.path.join(store_path, f"gen-{g}"), ignore_errors=True)


def generation_committed(store_path: str, batch_id: int) -> bool:
    """True iff a generation at/above ``batch_id`` is already
    committed. The fenced mergers (hist/scd2) fence on BOTH
    this directory high-water AND the ``merged_through`` column: a
    committed generation with ZERO data rows (empty or fully-deduped
    first batch) yields no row-level high-water mark, and without this
    check an at-least-once replay of that batch_id would pass the row
    fence, reach write_store, and crash-loop on the monotonic
    generation assertion instead of returning a graceful False
    (ADVICE r6 #1)."""
    gens = committed_generations(store_path)
    return bool(gens) and int(batch_id) <= gens[-1]


def next_generation(store_path: str) -> int:
    """Monotonic generation for stores without a batch-id fence (the
    idempotent max/union merges, where replay is harmless)."""
    gens = committed_generations(store_path)
    return (gens[-1] + 1) if gens else 0


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame over a driver-local row list in ONE slice.

    ``createDataFrame(list)`` parallelizes even a 1-row list over
    ``defaultParallelism`` slices, so every consumer action schedules
    cores-many near-empty tasks (32 at local[32]; measured 1.5 s for a
    5-frame union) and a store write commits that many task files.
    Every caller here holds a small bounded list (registers, rules,
    thresholds, sample reservoirs), where one slice is strictly better
    at any scale — the frame's plan, schema and row order are
    identical to the list form (r16)."""
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
