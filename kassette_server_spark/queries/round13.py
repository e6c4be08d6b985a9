"""Round-13 wave (q254+): the compressed-audio feature tier and the
streaming-index era's remaining seams (VERDICT r12 "Next round" #7/#8).

- q254: q221's per-frame audio features (Σ|s|, Σs², zero crossings)
  over COMPRESSED payloads — μ-law WAV (format 7, frames of 16) and
  block-framed IMA ADPCM WAV (format 0x11, block_align=12 → frames of
  17 == one block each, so every frame decodes from exactly one
  independently-seeded block). The oracle composes q246's μ-law
  CASE ladder and q253's block-reseeded recursive recurrence with a
  per-frame LAG-based zero-crossing count — fully closed-form.

- q256: JPEG 4:1:1 (multimodal.jpeg_411_roundtrip_stats) — the
  DV-video layout completing the sampling matrix's last member: FOUR
  luma blocks per 32x8 MCU at 4x1, chroma 4:1 box-averaged in x with
  exact round-half-up, restart markers composing; per-32x8-tile-
  constant channels keep the lossy path bit-exact and the sums
  closed-form.
- q257: progressive + 4:2:0 together (jpeg_progressive_420_
  roundtrip_stats) — SOF2 with luma 2x2: MCU-interleaved DC scan over
  the padded grid, per-component AC scans over the REAL block grid
  (spec A.2.2, pad blocks DC-only), nearest-neighbor chroma upsample;
  the layout nearly every real-world progressive photo JPEG uses.
- q258: AC successive approximation (spec G.1.2.3) over
  progressive 4:2:0 — each AC band as a coarse Al=1 pass plus a
  correction scan (sign bits, buffered correction bits, EOB-region
  corrections); 7 scans, decoded bit-identical to single-pass.
- q255: per-cell residual quantization error under the trained
  IVF-PQ codebooks (pq.ivfpq_qerr_by_cell) — the exact statistic that
  says when the codebooks need re-training, as an oracle-checkable
  batch query; the oracle extends the q249/q250
  replay chain with a chosen-centroid distance join.

Determinism: everything is exact int64 (companded decode midpoints,
ADPCM predictor walk, integer frame reductions). Registered after the
50-spec r13 driver window; first driver rows land per the standing
rotation; locked meanwhile by tests/test_oracle_parity*.py at two SFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..catalog import load
from .base import query
from .round12 import _IMA_STEPS_SQL


@query(
    "q254_compressed_audio_features",
    oracle=f"""
    WITH RECURSIVE samples AS (
      SELECT doc_id, j.j,
             (7919 * doc_id + 104729 * j.j) % 65536 - 32768 AS s
      FROM documents,
           unnest(CAST(range(0, 128) AS BIGINT[])) AS j(j)
      WHERE j.j < 64 + doc_id % 64
    ),
    mu AS (
      SELECT doc_id, j, CASE WHEN s < 0 THEN 128 ELSE 0 END AS sign,
             LEAST(abs(s), 32635) + 132 AS mag FROM samples),
    mu2 AS (
      SELECT doc_id, j, sign, mag,
             CASE WHEN mag >= 16384 THEN 7 WHEN mag >= 8192 THEN 6
                  WHEN mag >= 4096 THEN 5 WHEN mag >= 2048 THEN 4
                  WHEN mag >= 1024 THEN 3 WHEN mag >= 512 THEN 2
                  WHEN mag >= 256 THEN 1 ELSE 0 END AS exp FROM mu),
    mu3 AS (
      SELECT doc_id, j, sign, exp,
             (mag // (1 << (exp + 3))) % 16 AS mant FROM mu2),
    mu4 AS (
      SELECT doc_id, j,
             CASE WHEN sign = 128
                  THEN -(((mant * 8 + 132) * (1 << exp)) - 132)
                  ELSE ((mant * 8 + 132) * (1 << exp)) - 132 END AS dec
      FROM mu3),
    steps(doc_id, j, pred, idx) AS (
      SELECT doc_id, CAST(-1 AS BIGINT), CAST(0 AS BIGINT),
             CAST(0 AS BIGINT)
      FROM documents
      UNION ALL
      SELECT doc_id, j,
             CASE WHEN j % 17 = 0 THEN x
                  ELSE GREATEST(-32768, LEAST(32767,
                    pred + CASE WHEN sgn = 1 THEN -diff ELSE diff END))
             END AS pred,
             CASE WHEN j % 17 = 0 THEN idx
                  ELSE GREATEST(0, LEAST(88, idx +
                    CASE mag WHEN 0 THEN -1 WHEN 1 THEN -1 WHEN 2 THEN -1
                             WHEN 3 THEN -1 WHEN 4 THEN 2 WHEN 5 THEN 4
                             WHEN 6 THEN 6 ELSE 8 END))
             END AS idx
      FROM (
        SELECT *,
               (step // 8) + b2 * step + b1 * (step // 2) + b0 * (step // 4)
                 AS diff,
               4 * b2 + 2 * b1 + b0 AS mag
        FROM (
          SELECT *, CASE WHEN r2 >= step // 4 THEN 1 ELSE 0 END AS b0
          FROM (
            SELECT *,
                   CASE WHEN r1 >= step // 2 THEN 1 ELSE 0 END AS b1,
                   r1 - CASE WHEN r1 >= step // 2 THEN step // 2 ELSE 0 END
                     AS r2
            FROM (
              SELECT *,
                     CASE WHEN ad >= step THEN 1 ELSE 0 END AS b2,
                     ad - CASE WHEN ad >= step THEN step ELSE 0 END AS r1
              FROM (
                SELECT doc_id, j + 1 AS j, pred, idx,
                       list_extract({_IMA_STEPS_SQL}, idx + 1) AS step,
                       CASE WHEN x - pred < 0 THEN 1 ELSE 0 END AS sgn,
                       abs(x - pred) AS ad, x
                FROM (
                  SELECT *,
                         (7919 * doc_id + 104729 * (j + 1)) % 65536 - 32768
                           AS x
                  FROM steps WHERE j + 1 < 64 + doc_id % 64
                )
              )
            )
          )
        )
      )
    ),
    mu_lag AS (
      SELECT doc_id, j // 16 AS frame_id, j, dec,
             LAG(dec) OVER (PARTITION BY doc_id ORDER BY j) AS pdec
      FROM mu4),
    mu_feat AS (
      SELECT doc_id, 'mulaw' AS codec, frame_id,
             CAST(count(*) AS BIGINT) AS n_samples,
             CAST(sum(abs(dec)) AS BIGINT) AS sum_abs,
             CAST(sum(dec * dec) AS BIGINT) AS sum_sq,
             CAST(sum(CASE WHEN j % 16 <> 0
                           AND (dec < 0) <> (pdec < 0)
                      THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
      FROM mu_lag GROUP BY doc_id, frame_id),
    ima_lag AS (
      SELECT doc_id, j // 17 AS frame_id, j, pred AS dec,
             LAG(pred) OVER (PARTITION BY doc_id ORDER BY j) AS pdec
      FROM steps WHERE j >= 0),
    ima_feat AS (
      SELECT doc_id, 'ima' AS codec, frame_id,
             CAST(count(*) AS BIGINT) AS n_samples,
             CAST(sum(abs(dec)) AS BIGINT) AS sum_abs,
             CAST(sum(dec * dec) AS BIGINT) AS sum_sq,
             CAST(sum(CASE WHEN j % 17 <> 0
                           AND (dec < 0) <> (pdec < 0)
                      THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
      FROM ima_lag GROUP BY doc_id, frame_id)
    SELECT doc_id, codec, CAST(frame_id AS BIGINT) AS frame_id,
           n_samples, sum_abs, sum_sq, zero_crossings
    FROM mu_feat
    UNION ALL
    SELECT doc_id, codec, CAST(frame_id AS BIGINT) AS frame_id,
           n_samples, sum_abs, sum_sq, zero_crossings
    FROM ima_feat
    """,
    doc="per-frame audio features over COMPRESSED payloads: mu-law "
    "and block-framed IMA ADPCM WAVs decoded from RIFF bytes, frames "
    "block-aligned; oracle composes the companding ladder and the "
    "block-reseeded recurrence with LAG zero-crossing counts",
    tags=("llmops", "multimodal", "audio"),
)
def q254(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.multimodal import compressed_audio_frame_features

    return compressed_audio_frame_features(
        load(spark, sf, "documents").select("doc_id")
    )


from ..operators.pq import ivfpq_qerr_oracle_sql  # noqa: E402


@query(
    "q255_ivfpq_qerr_by_cell",
    oracle=ivfpq_qerr_oracle_sql(kc=8, citers=2, m=8, k=16, d=8, riters=2),
    doc="per-cell residual quantization error under the trained "
    "IVF-PQ codebooks — the streaming re-train gate's exact statistic "
    "as an oracle-checkable batch query (count, sum, min, max of "
    "sum-of-subspace distances to the chosen centroids)",
    tags=("llmops", "similarity", "pq", "ivf"),
)
def q255(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.pq import ivfpq_qerr_by_cell

    return ivfpq_qerr_by_cell(load(spark, sf, "embeddings"), kc=8, m=8, k=16, iters=2)


@query(
    "q256_jpeg_411_roundtrip",
    oracle="""
    WITH dims AS (
      SELECT doc_id, 32 + doc_id % 41 AS w, 8 + (doc_id * 3) % 21 AS h
      FROM documents),
    px AS (
      SELECT doc_id, w, h,
             (doc_id + 0 + 3 * (gx.x // 32) + 5 * (gy.y // 8)) % 256 AS c0,
             (doc_id + 1 + 3 * (gx.x // 32) + 5 * (gy.y // 8)) % 256 AS c1,
             (doc_id + 2 + 3 * (gx.x // 32) + 5 * (gy.y // 8)) % 256 AS c2
      FROM dims,
           unnest(CAST(range(0, w) AS BIGINT[])) AS gx(x),
           unnest(CAST(range(0, h) AS BIGINT[])) AS gy(y)
    )
    SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(((w + 31) // 32) * ((h + 7) // 8) AS BIGINT) AS n_mcus,
           CAST(sum(c0) AS BIGINT) AS sum_c0,
           CAST(sum(c1) AS BIGINT) AS sum_c1,
           CAST(sum(c2) AS BIGINT) AS sum_c2
    FROM px GROUP BY doc_id, w, h
    """,
    doc="JPEG 4:1:1 round trip: four-luma-block 32x8 MCUs, exact "
    "horizontal 4:1 chroma box average, restart markers — bit-exact "
    "on tile-constant content, sums closed-form in the id",
    tags=("llmops", "multimodal"),
)
def q256(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.multimodal import jpeg_411_roundtrip_stats

    return jpeg_411_roundtrip_stats(
        load(spark, sf, "documents").select("doc_id"), restart_interval=2
    )


@query(
    "q257_jpeg_progressive_420",
    oracle="""
    WITH dims AS (
      SELECT doc_id, 16 + doc_id % 37 AS w, 16 + (doc_id * 3) % 29 AS h
      FROM documents),
    px AS (
      SELECT doc_id, w, h,
             (doc_id + 0 + 3 * (gx.x // 16) + 5 * (gy.y // 16)) % 256 AS c0,
             (doc_id + 1 + 3 * (gx.x // 16) + 5 * (gy.y // 16)) % 256 AS c1,
             (doc_id + 2 + 3 * (gx.x // 16) + 5 * (gy.y // 16)) % 256 AS c2
      FROM dims,
           unnest(CAST(range(0, w) AS BIGINT[])) AS gx(x),
           unnest(CAST(range(0, h) AS BIGINT[])) AS gy(y)
    )
    SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(4 AS BIGINT) AS n_scans,
           CAST(sum(c0) AS BIGINT) AS sum_c0,
           CAST(sum(c1) AS BIGINT) AS sum_c1,
           CAST(sum(c2) AS BIGINT) AS sum_c2
    FROM px GROUP BY doc_id, w, h
    """,
    doc="progressive + 4:2:0 together (the real-world progressive "
    "photo layout): SOF2 with luma 2x2, MCU-interleaved DC scan over "
    "the padded grid, per-component AC scans over the REAL block grid "
    "— bit-exact on tile-constant content, sums closed-form",
    tags=("llmops", "multimodal"),
)
def q257(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.multimodal import jpeg_progressive_420_roundtrip_stats

    return jpeg_progressive_420_roundtrip_stats(
        load(spark, sf, "documents").select("doc_id")
    )


@query(
    "q258_jpeg_ac_refine",
    oracle="""
    WITH dims AS (
      SELECT doc_id, 16 + doc_id % 37 AS w, 16 + (doc_id * 3) % 29 AS h
      FROM documents),
    px AS (
      SELECT doc_id, w, h,
             (doc_id + 0 + 3 * (gx.x // 16) + 5 * (gy.y // 16)) % 256 AS c0,
             (doc_id + 1 + 3 * (gx.x // 16) + 5 * (gy.y // 16)) % 256 AS c1,
             (doc_id + 2 + 3 * (gx.x // 16) + 5 * (gy.y // 16)) % 256 AS c2
      FROM dims,
           unnest(CAST(range(0, w) AS BIGINT[])) AS gx(x),
           unnest(CAST(range(0, h) AS BIGINT[])) AS gy(y)
    )
    SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(7 AS BIGINT) AS n_scans,
           CAST(sum(c0) AS BIGINT) AS sum_c0,
           CAST(sum(c1) AS BIGINT) AS sum_c1,
           CAST(sum(c2) AS BIGINT) AS sum_c2
    FROM px GROUP BY doc_id, w, h
    """,
    doc="AC successive approximation (spec G.1.2.3) over progressive "
    "4:2:0: each AC band ships as a coarse Al=1 pass plus a "
    "correction scan (sign bits, buffered correction bits, EOB "
    "regions) — 7 scans, decoded bit-identical to the single-pass "
    "form; sums closed-form on tile-constant content",
    tags=("llmops", "multimodal"),
)
def q258(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.multimodal import jpeg_progressive_420_roundtrip_stats

    return jpeg_progressive_420_roundtrip_stats(
        load(spark, sf, "documents").select("doc_id"), ac_refine=True
    )
