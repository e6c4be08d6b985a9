#!/usr/bin/env python
"""IVF-PQ as a SERVED index: build the cell-partitioned parquet layout,
persist the (tiny) codebooks, and run a partition-pruned search — the
end-to-end recipe for SCALE.md's "cells are the physical partitioning"
claim (VERDICT r12 "Next round #5").

What this demonstrates, concretely:

1. ``ivfpq_write_index`` writes the encoded corpus partitionBy(ccid):
   each coarse cell's 8-byte codes land under their own ``ccid=<k>/``
   directory (at 100 TB: their own file group / object prefix).
2. The codebooks are ≤ kc·dim + M·K·(dim/M) integers — JSON beside the
   index, loaded by every searcher; the corpus itself never moves.
3. ``ivfpq_search_index`` turns the nprobe probe set into a LITERAL
   ``ccid IN (...)`` on the partition column, so the parquet scan's
   PartitionFilters prune at FILE LISTING time: with kc=8, nprobe=2
   and one query, 6/8 of the corpus is never opened — at 100 TB that
   is the difference between a 25 TB scan and a 100 TB scan per query
   batch, before a single row is decoded.
4. The pruned search returns bit-identical rows to the in-memory
   ``ivfpq_adc_topk`` under the same codebooks (the equi-join already
   dropped unprobed cells; the layout drops their I/O too).

Run: python examples/ivfpq_index.py [sf_dir] [out_dir]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from kassette_server_spark.catalog import load
from kassette_server_spark.operators.pq import (
    ivfpq_adc_topk,
    ivfpq_search_index,
    ivfpq_write_index,
)
from kassette_server_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="ivfpq_")
    spark = get_spark(app_name="ivfpq-index")
    emb = load(spark, sf_dir, "embeddings")

    index_path = os.path.join(out, "index")
    coarse, book = ivfpq_write_index(emb, index_path, kc=8, m=8, k=16, iters=2)
    # codebooks travel as JSON beside the index — a few KB
    with open(os.path.join(out, "codebooks.json"), "w") as f:
        json.dump(
            {
                "coarse": [[cid, list(c)] for cid, c in coarse],
                "book": {
                    str(mi): [[cid, list(c)] for cid, c in ents]
                    for mi, ents in book.items()
                },
            },
            f,
        )
    cells = sorted(e for e in os.listdir(index_path) if e.startswith("ccid="))
    print(f"index written: {len(cells)} cell directories -> {cells}")

    # a searcher process would reload the codebooks like this:
    with open(os.path.join(out, "codebooks.json")) as f:
        cb = json.load(f)
    coarse2 = [(int(cid), tuple(c)) for cid, c in cb["coarse"]]
    book2 = {
        int(mi): [(int(cid), tuple(c)) for cid, c in ents]
        for mi, ents in cb["book"].items()
    }

    q = emb.where(F.col("vec_id") % 500 == 0)
    res = ivfpq_search_index(
        spark, index_path, q, coarse2, book2, topk=10, nprobe=2
    )
    res.explain("formatted")  # PartitionFilters: [ccid IN (...)] <- the prune
    rows = res.collect()
    print(f"pruned search: {len(rows)} result rows")

    twin = ivfpq_adc_topk(
        emb, q, kc=8, topk=10, nprobe=2, coarse=coarse2, book=book2
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, twin))
    print("pruned search == in-memory search: OK")

    # --- the re-train FLIP (VERDICT r13 #4) --------------------------------
    # When the per-cell residual error (ivfpq_qerr_by_cell, q255) says
    # the codebooks no longer fit, the caller trains generation g+1 on
    # the CURRENT corpus and commits a fresh index directory; searchers
    # pick up the new generation while g stays immutable and readable.
    # codebooks.json is the commit marker (written last, atomically), so
    # a crash mid-flip is invisible and the retry is idempotent.
    from kassette_server_spark.operators.pq import (
        ivfpq_committed_generations,
        ivfpq_search_generation,
        ivfpq_write_generation,
    )

    gens_root = os.path.join(out, "generations")
    ivfpq_write_generation(emb, gens_root, 0, kc=8, m=8, k=16, iters=2)
    # ... residual error has drifted: re-train ...
    current_corpus = emb  # served corpus + the drifted stream, in production
    ivfpq_write_generation(current_corpus, gens_root, 1, kc=8, m=8, k=16, iters=2)
    print(f"committed generations: {ivfpq_committed_generations(gens_root)}")
    latest = ivfpq_search_generation(spark, gens_root, q, topk=10, nprobe=2)
    pinned = ivfpq_search_generation(spark, gens_root, q, generation=0, topk=10, nprobe=2)
    print(
        f"gen-1 (default) rows: {latest.count()}, gen-0 (pinned) rows: {pinned.count()}"
    )
    if len(sys.argv) <= 2:
        shutil.rmtree(out)
    spark.stop()


if __name__ == "__main__":
    main()
