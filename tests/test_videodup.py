"""Video near-dup pins (pipeline/videodup.py): the JVM expression
twin equals the mapInPandas fake path bit-for-bit on ASCII payloads,
an identical clip collides on every frame while a distinct clip makes
no pair, a partial edit yields fractional frame_overlap, and the
hot-band cap bounds candidate fan-out
on a degenerate corpus without disturbing below-cap pairs."""

from __future__ import annotations

from pyspark.sql import functions as F

from tcrd_spark.pipeline import imagedup, videodup
from tcrd_spark.pipeline.multimodal import attach_fake_payload


def _docs(spark, sf_dir, n=200):
    from tcrd_spark.sources.lake import load_table

    return (
        load_table(spark, sf_dir, "documents")
        .where(F.length("text") >= videodup.MIN_CHARS)
        .orderBy("doc_id")
        .limit(n)
    )


def test_expression_twin_equals_fake_frame_path(spark, sf_dir):
    """video_bands_expr (pure JVM, the registered query's path) and
    video_fingerprints (Arrow UDF over payload
    bytes) agree bit-for-bit on ASCII payloads."""
    docs = _docs(spark, sf_dir)
    expr_fp = {
        (r.doc_id, r.frame_idx): (r.b0, r.b1, r.b2, r.b3)
        for r in videodup.video_bands_expr(docs, "doc_id", "text").collect()
    }
    media = attach_fake_payload(docs, "doc_id", "text")
    udf_fp = {
        (r.doc_id, r.frame_idx): (r.b0, r.b1, r.b2, r.b3)
        for r in videodup.video_fingerprints(media, "doc_id").collect()
    }
    assert expr_fp == udf_fp
    assert len(expr_fp) == docs.count() * videodup.N_FRAMES


def _clip_media(spark, rows):
    return spark.createDataFrame(
        [(i, bytearray(p.encode())) for i, p in rows],
        "doc_id long, payload binary",
    )


def _mk_text(seed: int, n: int = 400) -> str:
    """Deterministic printable-ASCII 'clip' payload."""
    return "".join(chr(32 + ((seed * 131 + i * 29 + i * i) % 95))
                   for i in range(n))


def test_copy_collides_distinct_does_not_partial_is_fractional(spark):
    """Identical clip → overlap 1.0 on every frame; a clip with one
    frame-quarter rewritten → overlap (N_FRAMES-1)/N_FRAMES; a
    distinct clip → no pair."""
    base = _mk_text(1)
    # rewrite the third quarter only (frames are length/4 slices)
    q = len(base) // 4
    edited = base[: 2 * q] + _mk_text(7)[2 * q : 3 * q] + base[3 * q :]
    distinct = _mk_text(13)
    media = _clip_media(
        spark, [(1, base), (2, base), (3, edited), (4, distinct)]
    )
    fp = videodup.video_fingerprints(media, "doc_id")
    pairs = {
        (r.id_a, r.id_b): (r.n_close, r.frame_overlap)
        for r in videodup.video_near_dup_pairs(fp, "doc_id").collect()
    }
    assert pairs[(1, 2)] == (videodup.N_FRAMES, 1.0)
    n = videodup.N_FRAMES
    assert pairs[(1, 3)] == (n - 1, round((n - 1) / n, 6))
    assert not any(4 in p for p in pairs)


def test_offset_copy_found_via_unaligned_tier(spark):
    """VERDICT r10 #3: a time-shifted copy — same frame CONTENT at
    shifted frame indices — never collides in the aligned tier (no
    shared frame index) but must be found through the unaligned
    fallback, with best-alignment verification counting the shifted
    close frames. Disabling the tier reproduces the old structural
    miss."""
    n = videodup.N_FRAMES
    base = videodup.video_fingerprints(
        _clip_media(spark, [(1, _mk_text(21))]), "doc_id"
    ).collect()
    by_idx = {r.frame_idx: (r.b0, r.b1, r.b2, r.b3) for r in base}
    rows = [(1, k, *by_idx[k]) for k in range(n)]
    # video 2 = video 1 trimmed by one frame: frame k holds video 1's
    # frame k+1; its last frame is fresh footage
    fresh = videodup.video_fingerprints(
        _clip_media(spark, [(9, _mk_text(77))]), "doc_id"
    ).collect()[-1]
    rows += [(2, k, *by_idx[k + 1]) for k in range(n - 1)]
    rows += [(2, n - 1, fresh.b0, fresh.b1, fresh.b2, fresh.b3)]
    fp = spark.createDataFrame(rows, videodup.VFP_SCHEMA)

    found = {
        (r.id_a, r.id_b): (r.n_close, r.frame_overlap)
        for r in videodup.video_near_dup_pairs(fp, "doc_id").collect()
    }
    assert found[(1, 2)] == (n - 1, round((n - 1) / n, 6))

    aligned_only = videodup.video_near_dup_pairs(
        fp, "doc_id", unaligned_max_band_freq=None
    ).collect()
    assert not aligned_only, "aligned tier alone must miss the offset copy"


def test_unaligned_tier_bounded_on_degenerate_corpus(spark):
    """The fallback tier's cap drops hot (band, value) buckets: a
    mass-duplicated clip past the cap contributes no unaligned
    candidates (its pairs only survive through whatever other tier
    admits them), while a below-cap offset pair is still found."""
    n = videodup.N_FRAMES
    hot = videodup.video_fingerprints(
        _clip_media(spark, [(0, _mk_text(31))]), "doc_id"
    ).collect()
    hot_by_idx = {r.frame_idx: (r.b0, r.b1, r.b2, r.b3) for r in hot}
    # 40 clones of the hot clip, each SHUFFLED in frame order so the
    # aligned tier can't see them either — only the unaligned tier
    # could, and the cap (24 < 40) must drop those buckets
    # (clones whose rotations agree mod n still collide ALIGNED, so
    # the aligned tier is capped too below — freq n_clones/n > 5)
    rows = []
    for i in range(1, 41):
        for k in range(n):
            rows.append((i, k, *hot_by_idx[(k + i) % n]))
    # one cold offset pair (ids 100/101), below every cap
    cold = videodup.video_fingerprints(
        _clip_media(spark, [(5, _mk_text(55))]), "doc_id"
    ).collect()
    cold_by_idx = {r.frame_idx: (r.b0, r.b1, r.b2, r.b3) for r in cold}
    rows += [(100, k, *cold_by_idx[k]) for k in range(n)]
    rows += [(101, k, *cold_by_idx[(k + 1) % n]) for k in range(n)]
    fp = spark.createDataFrame(rows, videodup.VFP_SCHEMA)

    pairs = {
        (r.id_a, r.id_b)
        for r in videodup.video_near_dup_pairs(
            fp, "doc_id", max_band_freq=5
        ).collect()
    }
    assert (100, 101) in pairs, "below-cap offset pair must survive"
    assert not any(
        a <= 40 and b <= 40 for a, b in pairs
    ), "hot-bucket members must lose unaligned candidacy"


def test_hot_band_cap_bounds_candidates_keeps_cold_pairs(spark):
    """VERDICT r9 #8: a 50%-hot corpus (mass-duplicated clip) makes
    one (frame, band, value) bucket quadratic. With max_band_freq the
    candidate fan-out is bounded and every ≤3-Hamming pair BETWEEN
    below-cap members survives unchanged; the hot clones lose only
    their intra-clone pairs (exact-dup territory)."""
    hot = _mk_text(3)
    rows = [(i, hot) for i in range(50)]  # 50 identical clips
    # plus distinct near-dup pairs: (100+i base, 200+i one-quarter edit)
    colds = []
    for i in range(10):
        b = _mk_text(100 + i)
        q = len(b) // 4
        e = b[:q] + _mk_text(999 + i)[q : 2 * q] + b[2 * q :]
        colds += [(100 + i, b), (200 + i, e)]
    media = _clip_media(spark, rows + colds)
    fp = videodup.video_fingerprints(media, "doc_id").cache()

    uncapped = videodup.video_near_dup_pairs(fp, "doc_id")
    capped = videodup.video_near_dup_pairs(fp, "doc_id", max_band_freq=5)

    cold_ids = {i for i, _ in colds}
    un = {(r.id_a, r.id_b): r.n_close for r in uncapped.collect()
          if r.id_a in cold_ids and r.id_b in cold_ids}
    cp_all = {(r.id_a, r.id_b): r.n_close for r in capped.collect()}
    cp = {k: v for k, v in cp_all.items()
          if k[0] in cold_ids and k[1] in cold_ids}
    assert un == cp, "below-cap pairs must be unchanged"
    assert un, "fixture must actually produce cold near-dup pairs"
    # the 50-clone block contributes C(50,2)=1225 pairs uncapped;
    # capped, its buckets (freq 50 > 5) are dropped entirely
    assert not any(
        a < 100 and b < 100 for a, b in cp_all
    ), "hot-clone pairs must be dropped by the cap"
    fp.unpersist()


def test_image_hot_band_cap(spark):
    """Same cap discipline on the image pair join: identical images
    past the cap stop contributing pairs; a below-cap near-dup pair
    survives."""
    hot = _mk_text(5)
    b1 = _mk_text(41)
    b2 = b1[:-3] + "zzz"  # near copy: tail tweak, grid mostly equal
    media = _clip_media(
        spark, [(i, hot) for i in range(30)] + [(100, b1), (101, b2)]
    )
    fp = imagedup.dhash_fingerprints(media, "doc_id").cache()
    un = {(r.id_a, r.id_b) for r in
          imagedup.image_near_dup_pairs(fp).collect()}
    cp = {(r.id_a, r.id_b) for r in
          imagedup.image_near_dup_pairs(fp, max_band_freq=5).collect()}
    assert (100, 101) in un and (100, 101) in cp
    assert any(a < 30 and b < 30 for a, b in un)
    assert not any(a < 30 and b < 30 for a, b in cp)
    fp.unpersist()


def test_fp_cut_storage_bounded_across_invocations(spark):
    # ADVICE r11: repeated pair-builds must not accumulate one cached
    # RDD per invocation — the rotating slot releases the predecessor
    from tcrd_spark.session import _SESSION_MEMO

    def n_persistent():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    rows = [(1, bytearray(b"abcd" * 40)), (2, bytearray(b"abcd" * 40))]
    media = spark.createDataFrame(rows, "doc_id long, payload binary")
    fp = videodup.video_fingerprints(media, "doc_id")

    videodup.video_near_dup_pairs(fp, "doc_id").collect()
    base = n_persistent()
    app = spark.sparkContext.applicationId
    assert _SESSION_MEMO["videodup-fp"][0][0] == app
    for _ in range(3):
        videodup.video_near_dup_pairs(fp, "doc_id").collect()
    # the slot rotates: persistent-RDD count does not grow per call
    assert n_persistent() <= base
