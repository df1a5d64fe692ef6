"""Perceptual-hash image near-dup detection — dHash fingerprints,
Hamming-banded candidate pairs, and CC groups.

The standard image-corpus dedup step (VERDICT r8 #4): exact byte
hashes miss re-encoded/resized copies of the same picture, so the
fingerprint must be computed from PIXELS. dHash (difference hash):
reduce the image to a tiny grayscale grid of ``_ROWS`` rows ×
``_COLS`` columns and record, per row, whether each pixel is brighter
than its left neighbor — 64 bits that survive re-encoding, resizing,
and mild recompression because they describe the luminance GRADIENT
layout, not the bytes.

Three tiers, one bit contract:

- `dhash_fingerprints(real_decode=True)`: real pixels — PIL when
  installed, else the pure-Python PNG codec (functions/png.py) with
  nearest-neighbor grid sampling; non-PNG without PIL raises (the
  multimodal honesty rule).
- `dhash_fingerprints(real_decode=False)`: the deterministic fake —
  the grid is sampled from the payload BYTES at a stride; for ASCII
  payloads it equals the JVM expression twin bit-for-bit
  (pytest-pinned), the same fake-decode discipline as
  `pipeline/multimodal.py`.
- `dhash_bands_expr`: the fake-grid dHash as PURE JVM expressions
  over the documents table (codepoint sampling via substring+ascii)
  — the registered query's hot path, whole-stage codegen, no Python
  worker; the oracle SQL is generated from the SAME expression
  builder so both engines compute identical bits.

Pair generation is the SimHash banding discipline (`pipeline/dedup.
simhash_pairs`): the 64 bits are kept as FOUR 16-bit bands; any pair
within Hamming ≤ 3 must agree on ≥ 1 band (pigeonhole), so a
per-band equality self-join finds every such pair without the O(n²)
scan; candidates verify with bit_count(xor). Groups reuse the
alternating-star connected components (`pipeline/corpus.dedup_groups`).

100 TB shape: fingerprints are row-local (64 bits from a KB-scale
payload, map-side, payloads never shuffle — only the 4 small band
ints do); the banded join shuffles (band, value) keys with bounded
collision groups (65536 values per band); verification touches
candidates only. Hamming ≤ 3 completeness is exact by pigeonhole,
not probabilistic.

Reference parity: none (LLM-data-pipeline extension; the reference
has no media surface).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_ROWS, _COLS = 8, 9  # 8 rows x 9 cols -> 8x8 = 64 difference bits
N_SAMPLES = _ROWS * _COLS
BANDS = 4  # 16 bits per band; pigeonhole-complete for hamming <= 3
MAX_HAMMING = 3
MIN_CHARS = N_SAMPLES  # registered query's "image big enough" gate


def _g_sql(i: int, text_col: str, dialect: str) -> str:
    """Codepoint sample i of the fake pixel grid: position spreads
    across the text at stride length/72 (wrapped for safety). `div`
    spells integer division in Spark SQL, `//` in DuckDB; everything
    else is shared so both engines compute identical grid values."""
    d = "div" if dialect == "spark" else "//"
    ln = f"length({text_col})"
    pos = f"1 + (({i} * greatest(1, {ln} {d} {N_SAMPLES})) % {ln})"
    return f"ascii(substring({text_col}, {pos}, 1))"


def _band_sql(j: int) -> str:
    """Band j from precomputed grid columns g0..g71: rows 2j and 2j+1,
    bit k = (r % 2) * 8 + c set iff grid(r, c+1) > grid(r, c)."""
    terms = []
    for rr in range(2):
        r = 2 * j + rr
        for c in range(_COLS - 1):
            k = rr * (_COLS - 1) + c
            a, b = r * _COLS + c + 1, r * _COLS + c
            terms.append(
                f"(CASE WHEN g{a} > g{b} THEN {1 << k} ELSE 0 END)"
            )
    return " + ".join(terms)


def dhash_bands_expr(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, b0..b3): fake-grid dHash as JVM expressions — two narrow
    projections (72 grid samples, then 64 comparisons), fully inside
    whole-stage codegen."""
    grid = df.select(
        F.col(id_col),
        *[
            F.expr(_g_sql(i, text_col, "spark")).alias(f"g{i}")
            for i in range(N_SAMPLES)
        ],
    )
    return grid.select(
        id_col,
        *[
            F.expr(_band_sql(j)).cast("long").alias(f"b{j}")
            for j in range(BANDS)
        ],
    )


def dhash_bands_oracle(table: str, id_col: str, text_col: str) -> str:
    """The DuckDB twin of `dhash_bands_expr`, generated from the same
    builders: SELECT id, b0..b3 FROM <table> WHERE length >= 72."""
    gs = ", ".join(
        f"{_g_sql(i, text_col, 'duckdb')} AS g{i}"
        for i in range(N_SAMPLES)
    )
    bs = ", ".join(
        f"CAST({_band_sql(j)} AS BIGINT) AS b{j}" for j in range(BANDS)
    )
    return (
        f"SELECT {id_col}, {bs} FROM ("
        f"SELECT {id_col}, {gs} FROM {table} "
        f"WHERE length({text_col}) >= {MIN_CHARS})"
    )


# ------------------------------------------------- pixel fingerprints

FP_SCHEMA = "doc_id long, b0 long, b1 long, b2 long, b3 long"


def _grid_to_bands(grid: list[list[int]]) -> list[int]:
    """8x9 luminance grid → the 4 band ints (same bit layout as the
    SQL builders)."""
    bands = []
    for j in range(BANDS):
        v = 0
        for rr in range(2):
            r = 2 * j + rr
            for c in range(_COLS - 1):
                if grid[r][c + 1] > grid[r][c]:
                    v |= 1 << (rr * (_COLS - 1) + c)
        bands.append(v)
    return bands


def _pixel_grid(payload: bytes) -> list[list[int]]:
    """Real decode → 8x9 grayscale grid. PIL when installed (proper
    resampling); else the pure-Python PNG codec with nearest-neighbor
    sampling; non-PNG without PIL raises."""
    from tcrd_spark.pipeline.multimodal import _have_pil

    if _have_pil():
        import io

        from PIL import Image

        with Image.open(io.BytesIO(payload)) as im:
            px = list(im.convert("L").resize((_COLS, _ROWS)).getdata())
        return [px[r * _COLS:(r + 1) * _COLS] for r in range(_ROWS)]
    from tcrd_spark.functions.png import decode_png

    w, h, ch, raw = decode_png(bytes(payload))
    grid = []
    for r in range(_ROWS):
        y = min(h - 1, (r * h) // _ROWS)
        row = []
        for c in range(_COLS):
            x = min(w - 1, (c * w) // _COLS)
            o = (y * w + x) * ch
            # luma: mean of the color channels (alpha excluded)
            n = 3 if ch >= 3 else 1
            row.append(sum(raw[o:o + n]) // n)
        grid.append(row)
    return grid


def _fake_grid(payload: bytes) -> list[list[int]]:
    """Deterministic fake grid from payload bytes — for ASCII payloads
    identical to the expression twin's codepoint sampling."""
    ln = max(1, len(payload))
    stride = max(1, ln // N_SAMPLES)
    return [
        [
            payload[((r * _COLS + c) * stride) % ln] if payload else 0
            for c in range(_COLS)
        ]
        for r in range(_ROWS)
    ]


def dhash_fingerprints(
    media: DataFrame, id_col: str = "doc_id", real_decode: bool = False
) -> DataFrame:
    """mapInPandas dHash over the binary payload column → (id, b0..b3).
    Arrow-batched; payloads never leave the scan task — only the four
    band ints shuffle downstream."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        grid_of = _pixel_grid if real_decode else _fake_grid
        for pdf in batches:
            rows = [
                _grid_to_bands(grid_of(bytes(p))) for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    **{
                        f"b{j}": [r[j] for r in rows]
                        for j in range(BANDS)
                    },
                }
            )

    return media.mapInPandas(run, FP_SCHEMA)


# ------------------------------------------------- pairs and groups


def image_near_dup_pairs(
    fp: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = MAX_HAMMING,
    max_band_freq: int | None = None,
) -> DataFrame:
    """(id_a, id_b, hamming) with Hamming ≤ max_hamming over the
    64-bit dHash. Band-equality join (pigeonhole-complete for ≤ 3),
    bit_count(xor) verification on candidates only.

    `max_band_freq` is the hot-bucket cap
    (`operators/blocking.drop_hot_blocks`): a degenerate corpus —
    mass-duplicated or near-black images — funnels into one
    (band, value) bucket and makes the self-join quadratic, so buckets
    seen in more than max_band_freq fingerprints are DROPPED before
    the join, bounding candidate fan-out at max_band_freq² per bucket.
    Recall cost: a pair whose ONLY agreeing band is hot is lost
    (members usually re-meet through their three other, rarer bands;
    exact mass-dup clusters belong to `pipeline/dedup.dedup_exact`).
    Default None = exact pigeonhole completeness (the adjudicated
    path). The fingerprint cut rotates one store slot: each call
    releases the previous call's cut (lineage.cut)."""
    from tcrd_spark.operators.blocking import candidate_pairs, drop_hot_blocks
    from tcrd_spark.operators.lineage import cut

    # fp feeds both sides of the band self-join (plus the freq cap
    # when set); uncut, the 72-sample dHash expression re-executes per
    # branch — one JVM lineage cut computes it once (the videodup.py
    # change; measured 1.8s → 1.4s at sf0.1, hash-identical)
    fp = cut(fp, "imagedup-fp")
    bands = fp.select(
        id_col,
        *[f"b{j}" for j in range(BANDS)],
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ":", F.lit(str(j)), F.col(f"b{j}").cast("string")
                    )
                    for j in range(BANDS)
                ]
            )
        ).alias("band"),
    )
    cand = candidate_pairs(
        drop_hot_blocks(bands, "band", max_band_freq),
        id_col,
        "band",
        carry=tuple(f"b{j}" for j in range(BANDS)),
    )
    hamming = None
    for j in range(BANDS):
        t = F.bit_count(F.col(f"b{j}_a").bitwiseXOR(F.col(f"b{j}_b")))
        hamming = t if hamming is None else hamming + t
    return (
        cand.select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def image_near_dup_groups(
    media_ids: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Pairs → transitive groups (doc_id, group_id, group_sz) via the
    alternating-star CC of `pipeline/corpus.dedup_groups` — keep one
    representative per visual cluster."""
    from tcrd_spark.pipeline.corpus import dedup_groups

    return dedup_groups(media_ids, pairs, id_col)


# ------------------------------------------------- registered query

from tcrd_spark.sources.lake import load_table  # noqa: E402


def q_image_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs over synthesized images (fake pixel grids
    derived from the documents text, the `pipeline/multimodal.py`
    discipline): exact text dups collide at hamming 0, re-keyed
    near-copies land under the threshold, random band collisions are
    rejected by the verify step. The JVM expression twin of the
    mapInPandas path (pinned equal in tests/test_imagedup.py)."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.length("text") >= MIN_CHARS
    )
    fp = dhash_bands_expr(docs, "doc_id", "text")
    return image_near_dup_pairs(fp, "doc_id", MAX_HAMMING)


QUERIES = {"image_near_dups": q_image_near_dups}

ORACLE = {
    "image_near_dups": f"""
        WITH fp AS ({dhash_bands_oracle('documents', 'doc_id', 'text')}),
        bands AS (
          {" UNION ALL ".join(
            f"SELECT doc_id, b0, b1, b2, b3, "
            f"concat('{j}', ':', CAST(b{j} AS VARCHAR)) AS band FROM fp"
            for j in range(BANDS)
          )}
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.doc_id < b.doc_id
        ),
        scored AS (
          SELECT id_a, id_b,
                 bit_count(xor(fa.b0, fb.b0))
                 + bit_count(xor(fa.b1, fb.b1))
                 + bit_count(xor(fa.b2, fb.b2))
                 + bit_count(xor(fa.b3, fb.b3)) AS hamming
          FROM cand
          JOIN fp fa ON fa.doc_id = cand.id_a
          JOIN fp fb ON fb.doc_id = cand.id_b
        )
        SELECT id_a, id_b, hamming FROM scored
        WHERE hamming <= {MAX_HAMMING}
    """,
}
