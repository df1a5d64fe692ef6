"""Video near-dup fingerprinting — per-frame dHash sets, temporally
aligned banded candidates, frame-overlap verification.

Completes the multimodal dedup triad's fourth leg (text:
`pipeline/dedup.py`; image: `pipeline/imagedup.py`; audio:
`pipeline/audiodup.py`; VERDICT r9 #3): a re-encoded copy of the same
VIDEO has different bytes but the same frame CONTENT, so the
fingerprint is a SET of per-frame image fingerprints — sample
``N_FRAMES`` frames spanning the clip (the `multimodal.sample_frames`
1→N discipline), dHash each frame with the imagedup grid (64 bits →
four 16-bit bands), keep (video, frame_idx, b0..b3).

Pair generation is TWO-TIER banding (VERDICT r10 #3 added the second
tier):

- ALIGNED tier: candidates share a band value on the SAME frame
  index. Pigeonhole-completeness is per-frame — any video pair whose
  frame f differs by Hamming ≤ 3 WILL collide on one of frame f's
  four bands — so every pair with at least one temporally-aligned
  close frame reaches verification. Buckets are small (the key space
  is N_FRAMES× larger than image banding), so this tier runs
  uncapped by default.
- UNALIGNED fallback tier: candidates share a band value on ANY
  frame index — the tier that catches TRIMMED/TIME-SHIFTED copies,
  which never share a frame index with their source and were
  structurally invisible to the aligned join. Folding frame indices
  makes buckets up to N_FRAMES× hotter, so this tier is ALWAYS
  capped (``unaligned_max_band_freq``, default 24 videos/bucket, by
  `operators/blocking.drop_hot_blocks`): members of a hotter bucket
  lose candidacy through it, keeping degenerate corpora bounded at a
  documented recall cost (pass None to disable the tier).

Verification joins the full fingerprint sets back per candidate pair
and scores BEST-ALIGNMENT Hamming: for each frame of the lower-id
video, the minimum Hamming over ALL frames of the other (N_FRAMES²
comparisons per pair — constant, tiny). ``n_close`` counts frames
whose best match is ≤ max_hamming, so an offset copy scores close
frames at its shifted positions. The default gate is ONE close frame
(``MIN_OVERLAP`` = 1/N_FRAMES): a 64-bit frame hash within Hamming 3
by chance is ~2e-15, so a single close frame is already reused
footage, and surfacing partial copies (clip excerpts) is the
corpus-curation point; consumers wanting whole-clip duplicates only
raise min_overlap (a 16-bit band collision alone never qualifies —
verification requires a full 64-bit frame to be close).

Two tiers, one bit contract (the imagedup discipline); real frame
extraction needs a video decoder, which no tier has (the multimodal
honesty rule, `multimodal.sample_frames`):

- `video_fingerprints`: deterministic fake —
  frames are contiguous byte slices of the payload at stride
  len/N_FRAMES, each dHashed with `imagedup._fake_grid`; for ASCII
  payloads bit-identical to the expression twin (pytest-pinned).
- `video_bands_expr`: the fake path as PURE JVM expressions (frame =
  substring at the same stride; grid/bands reuse imagedup's
  `_g_sql`/`_band_sql` builders) — the registered query's hot path,
  whole-stage codegen; the DuckDB oracle is generated from the SAME
  builders.

100 TB shape: fingerprints are row-local (N_FRAMES × 64 bits from the
payload, map-side; payloads never shuffle — only N_FRAMES × 4 small
band ints per video do). The banded join shuffles (frame_idx, band,
value) keys; temporal alignment multiplies the distinct key space by
N_FRAMES, so buckets are strictly SMALLER than image banding over the
same corpus. A degenerate corpus (mass-duplicated clips) is bounded
by `max_band_freq` — the one cap rule, `operators/blocking.
drop_hot_blocks` — at a documented recall cost: members of a
bucket larger than the cap lose candidacy THROUGH that bucket (they
usually re-meet through rarer bands; exact mass-dup clusters are
exact-hash territory, `pipeline/dedup.dedup_exact`).

Reference parity: none (LLM-data-pipeline multimodal extension; the
reference has no media surface).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcrd_spark.pipeline.imagedup import (
    BANDS,
    MAX_HAMMING,
    N_SAMPLES,
    _band_sql,
    _fake_grid,
    _g_sql,
    _grid_to_bands,
)

N_FRAMES = 4
MIN_OVERLAP = 1 / N_FRAMES  # close-frame fraction gate (see docstring)
MIN_CHARS = N_FRAMES * N_SAMPLES  # every frame covers a full grid
# default hot-bucket cap for the UNALIGNED candidate tier (videos per
# (band, value) bucket) — folding frame indices makes buckets up to
# N_FRAMES× hotter than the aligned tier, so the fallback is never
# run uncapped (see module docstring)
UNALIGNED_MAX_BAND_FREQ = 24

def _vfp_schema(id_col: str) -> str:
    return (
        f"{id_col} long, frame_idx int, "
        "b0 long, b1 long, b2 long, b3 long"
    )


VFP_SCHEMA = _vfp_schema("doc_id")


def _frame_sql(k: int, text_col: str, dialect: str, n_frames: int) -> str:
    """Frame k of the fake sampler as a SQL expression: the contiguous
    slice [k·step, (k+1)·step) of the payload text, step = len/n —
    the byte-slicing of `multimodal.sample_frames` in 1-based
    substring form. `div` spells integer division in Spark SQL, `//`
    in DuckDB."""
    d = "div" if dialect == "spark" else "//"
    step = f"greatest(1, length({text_col}) {d} {n_frames})"
    return f"substring({text_col}, 1 + {k} * {step}, {step})"


def video_bands_expr(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_frames: int = N_FRAMES,
) -> DataFrame:
    """(id, frame_idx, b0..b3): fake-frame dHash as JVM expressions —
    frame slicing, 72 grid samples, 64 comparisons, all inside
    whole-stage codegen; one input row fans out to n_frames rows."""
    frames = df.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.expr(_frame_sql(k, text_col, "spark", n_frames))
                    for k in range(n_frames)
                ]
            )
        ).alias("frame_idx", "ftxt"),
    )
    grid = frames.select(
        id_col,
        "frame_idx",
        *[
            F.expr(_g_sql(i, "ftxt", "spark")).alias(f"g{i}")
            for i in range(N_SAMPLES)
        ],
    )
    return grid.select(
        id_col,
        F.col("frame_idx").cast("int").alias("frame_idx"),
        *[
            F.expr(_band_sql(j)).cast("long").alias(f"b{j}")
            for j in range(BANDS)
        ],
    )


def video_bands_oracle(
    table: str, id_col: str, text_col: str, n_frames: int = N_FRAMES
) -> str:
    """DuckDB twin of `video_bands_expr`, generated from the same
    frame/grid/band builders."""
    frames = " UNION ALL ".join(
        f"SELECT {id_col}, {k} AS frame_idx, "
        f"{_frame_sql(k, text_col, 'duckdb', n_frames)} AS ftxt "
        f"FROM {table} WHERE length({text_col}) >= {MIN_CHARS}"
        for k in range(n_frames)
    )
    gs = ", ".join(
        f"{_g_sql(i, 'ftxt', 'duckdb')} AS g{i}" for i in range(N_SAMPLES)
    )
    bs = ", ".join(
        f"CAST({_band_sql(j)} AS BIGINT) AS b{j}" for j in range(BANDS)
    )
    return (
        f"SELECT {id_col}, CAST(frame_idx AS INTEGER) AS frame_idx, {bs} "
        f"FROM (SELECT {id_col}, frame_idx, {gs} FROM ({frames}))"
    )


# ------------------------------------------------- pixel fingerprints


def video_fingerprints(
    media: DataFrame,
    id_col: str = "doc_id",
    n_frames: int = N_FRAMES,
) -> DataFrame:
    """mapInPandas frame-sample + dHash over the binary payload column
    → (id, frame_idx, b0..b3). Arrow-batched, 1→n_frames fan-out
    inside the UDF; payloads never leave the scan task — only the
    band ints shuffle downstream. Frames are the deterministic fake's
    byte slices: real frame extraction needs a video decoder
    (`multimodal.sample_frames` contract)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, cols = [], [], {f"b{j}": [] for j in range(BANDS)}
            for i, p in zip(pdf[id_col], pdf["payload"]):
                p = bytes(p)
                step = max(1, len(p) // n_frames)
                for k in range(n_frames):
                    frame = p[k * step : (k + 1) * step]
                    bands = _grid_to_bands(_fake_grid(frame))
                    ids.append(i)
                    idxs.append(k)
                    for j in range(BANDS):
                        cols[f"b{j}"].append(bands[j])
            yield pd.DataFrame({id_col: ids, "frame_idx": idxs, **cols})

    return media.mapInPandas(run, _vfp_schema(id_col))


# ------------------------------------------------- pairs


def video_near_dup_pairs(
    fp: DataFrame,
    id_col: str = "doc_id",
    n_frames: int = N_FRAMES,
    max_hamming: int = MAX_HAMMING,
    min_overlap: float = MIN_OVERLAP,
    max_band_freq: int | None = None,
    unaligned_max_band_freq: int | None = UNALIGNED_MAX_BAND_FREQ,
) -> DataFrame:
    """(id_a, id_b, n_close, frame_overlap): video pairs whose
    close-frame fraction reaches min_overlap. Two candidate tiers —
    temporally-aligned band equality (uncapped unless `max_band_freq`)
    plus the frame-index-free UNALIGNED fallback that catches
    trimmed/offset copies (always capped by `unaligned_max_band_freq`;
    None disables the tier) — then a full fingerprint-set join scoring
    BEST-ALIGNMENT Hamming per lower-id frame (min over the other
    video's frames), so `n_close` counts close frames wherever they
    sit in the clip. Hot-bucket caps drop buckets seen in more than
    that many videos before the self-join (bounded fan-out on
    degenerate corpora; recall note in the module docstring). The
    fingerprint cut rotates one store slot: each call releases the
    previous call's cut (lineage.cut)."""
    from tcrd_spark.operators.blocking import candidate_pairs, drop_hot_blocks
    from tcrd_spark.operators.lineage import cut

    # the fingerprint frame feeds SIX plan branches (aligned bands ×2
    # via the self-join, the unaligned tier + its freq cap, fa, fb);
    # uncut, the dHash expression tree (72 grid samples × 64
    # comparisons per frame) re-executes once per branch. One JVM
    # lineage cut of the (id, frame_idx, b0..b3) ints computes it once
    # (guide §2.2; measured 5.4s → 2.7s at sf0.1, hash-identical).
    fp = cut(fp, "videodup-fp")
    bands = fp.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        F.col("frame_idx").cast("string"),
                        F.lit(str(j)),
                        F.col(f"b{j}").cast("string"),
                    )
                    for j in range(BANDS)
                ]
            )
        ).alias("band"),
    )
    bands = drop_hot_blocks(bands, "band", max_band_freq)
    if unaligned_max_band_freq is not None:
        # fallback tier: same band VALUES, frame index folded away —
        # one distinct (video, band) row per video so the freq count
        # is videos-per-bucket, then the cap, then the same self-join
        ubands = fp.select(
            id_col,
            F.explode(
                F.array(
                    *[
                        F.concat_ws(
                            ":",
                            F.lit("u"),
                            F.lit(str(j)),
                            F.col(f"b{j}").cast("string"),
                        )
                        for j in range(BANDS)
                    ]
                )
            ).alias("band"),
        ).distinct()
        bands = bands.unionByName(
            drop_hot_blocks(ubands, "band", unaligned_max_band_freq)
        )
    cand = candidate_pairs(bands, id_col, "band")
    fa = fp.select(
        F.col(id_col).alias("id_a"),
        F.col("frame_idx").alias("fa_idx"),
        *[F.col(f"b{j}").alias(f"ab{j}") for j in range(BANDS)],
    )
    fb = fp.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"b{j}").alias(f"bb{j}") for j in range(BANDS)],
    )
    hamming = None
    for j in range(BANDS):
        t = F.bit_count(F.col(f"ab{j}").bitwiseXOR(F.col(f"bb{j}")))
        hamming = t if hamming is None else hamming + t
    # best-alignment: N_FRAMES² rows per pair (a-frames × b-frames,
    # no frame-equality), min per a-frame — constant per-pair cost
    best = (
        cand.join(fa, "id_a")
        .join(fb, "id_b")
        .groupBy("id_a", "id_b", "fa_idx")
        .agg(F.min(hamming).alias("best_hamming"))
    )
    return (
        best.groupBy("id_a", "id_b")
        .agg(
            F.sum(
                F.when(F.col("best_hamming") <= max_hamming, 1).otherwise(0)
            ).alias("n_close")
        )
        .filter(F.col("n_close") / F.lit(n_frames) >= min_overlap)
        .select(
            "id_a",
            "id_b",
            "n_close",
            F.round(F.col("n_close") / F.lit(n_frames), 6).alias(
                "frame_overlap"
            ),
        )
    )


# ------------------------------------------------- registered query

from tcrd_spark.sources.lake import load_table  # noqa: E402


def q_video_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate video pairs over synthesized clips (fake frames
    are byte slices of the documents text — the `multimodal.
    sample_frames` discipline): exact text dups are close on every
    frame (overlap 1.0), near-dup documents surface with fractional
    overlap (edits hit some frames, not all), and random band
    collisions are rejected by the full-frame Hamming verification.
    The unaligned fallback tier (default cap) additionally surfaces
    trimmed/offset copies that share no frame index with their source.
    JVM expression twin of the mapInPandas path (pinned equal in
    tests/test_videodup.py)."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.length("text") >= MIN_CHARS
    )
    fp = video_bands_expr(docs, "doc_id", "text")
    return video_near_dup_pairs(fp, "doc_id")


QUERIES = {"video_near_dups": q_video_near_dups}

_BANDS_UNION = " UNION ALL ".join(
    f"SELECT doc_id, concat(CAST(frame_idx AS VARCHAR), ':', '{j}', ':', "
    f"CAST(b{j} AS VARCHAR)) AS band FROM fp"
    for j in range(BANDS)
)

_UBANDS_UNION = " UNION ALL ".join(
    f"SELECT DISTINCT doc_id, concat('u:', '{j}', ':', "
    f"CAST(b{j} AS VARCHAR)) AS band FROM fp"
    for j in range(BANDS)
)

ORACLE = {
    "video_near_dups": f"""
        WITH fp AS ({video_bands_oracle('documents', 'doc_id', 'text')}),
        bands AS ({_BANDS_UNION}),
        ubands_all AS ({_UBANDS_UNION}),
        ubands AS (
          SELECT doc_id, band FROM ubands_all
          WHERE band IN (
            SELECT band FROM ubands_all
            GROUP BY band
            HAVING count(*) <= {UNALIGNED_MAX_BAND_FREQ}
          )
        ),
        all_bands AS (
          SELECT doc_id, band FROM bands
          UNION ALL SELECT doc_id, band FROM ubands
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM all_bands a JOIN all_bands b
            ON a.band = b.band AND a.doc_id < b.doc_id
        ),
        best AS (
          SELECT cand.id_a, cand.id_b, fa.frame_idx AS fa_idx,
                 min(bit_count(xor(fa.b0, fb.b0))
                     + bit_count(xor(fa.b1, fb.b1))
                     + bit_count(xor(fa.b2, fb.b2))
                     + bit_count(xor(fa.b3, fb.b3))) AS best_hamming
          FROM cand
          JOIN fp fa ON fa.doc_id = cand.id_a
          JOIN fp fb ON fb.doc_id = cand.id_b
          GROUP BY cand.id_a, cand.id_b, fa.frame_idx
        ),
        agg AS (
          SELECT id_a, id_b,
                 CAST(sum(CASE WHEN best_hamming <= {MAX_HAMMING}
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_close
          FROM best GROUP BY id_a, id_b
        )
        SELECT id_a, id_b, n_close,
               round(CAST(n_close AS DOUBLE) / {N_FRAMES}, 6)
                   AS frame_overlap
        FROM agg
        WHERE CAST(n_close AS DOUBLE) / {N_FRAMES} >= {MIN_OVERLAP}
    """,
}
