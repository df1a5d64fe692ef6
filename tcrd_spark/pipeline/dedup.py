"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH,
SimHash, embedding-cosine near-dup.

Reference has only `dropDuplicates`-style dedup (`R/exp-atlas_process.
R:47` unique-by-key; `loaders/TCRD.py:2338-2342` set() dedup); the
near-dup family here is the LLM-pipeline extension (SURVEY.md §7 step 7).

Scale design notes (100 TB documents):
- Exact dedup keys on hash60(text), not text — the shuffle moves 8-byte
  keys, not document bodies; representative = min(doc_id) per group
  (deterministic, unlike dropDuplicates' partition-order "first").
- The shingle inverted index (ngram_jaccard) explodes to one row per
  (doc, distinct shingle). Ultra-common shingles create k² candidate
  blowup; PPJoin's prefix filter keeps them out of the index (they
  sort last), so the result stays exact.
- MinHash+LSH replaces the all-pairs O(n²) verify with per-band bucket
  joins: only same-bucket docs meet, and the final Jaccard verify runs
  on the candidate set alone. Bands/rows tune the S-curve.
- All hashing is the portable md5-based scheme (functions/hashing.py)
  so the DuckDB oracle reproduces signatures bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tcrd_spark.functions.hashing import (
    band_hashes_expr,
    hash60,
    minhash_sig_expr,
    spark_hash60,
)
from tcrd_spark.operators.blocking import candidate_pairs
from tcrd_spark.pipeline.text import ws_tokens


def shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a document.

    Built as n−1 `zip_with` rounds against shifted `slice`s of the
    token array, NOT as `transform(sequence, i -> element_at(toks, i))`:
    Catalyst inlines the tokenizer into every projection/filter copy,
    and a lambda body that references `toks` re-evaluates the full
    `split(text)` once per *element* — O(len·n) regex splits per row.
    With zip_with, `toks` appears only as argument expressions, each
    evaluated once per *row*. (5000×52-shingle bench corpus: 25s → 3s.)

    zip_with pads the shorter (shifted) side with null; `concat`
    propagates the null (concat_ws would silently emit a short gram),
    and the nulls are filtered off — docs with < n tokens yield [].
    """
    toks = ws_tokens(text)
    grams = toks
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(toks, j + 1, F.greatest(F.size(toks) - j, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.array_distinct(F.filter(grams, lambda x: x.isNotNull()))


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: group by content hash, keep min-id representative.

    Returns (text_hash, keep_id, dup_ct). Deterministic representative —
    `dropDuplicates` picks an arbitrary row per partition order, which
    breaks reproducible 100 TB pipelines.
    """
    return (
        df.select(F.col(id_col), hash60(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("dup_ct"),
        )
    )


def shingle_hashes_sql(text_expr: str, n: int) -> str:
    """Spark-SQL string producing ``hashed_shingles``'s hs column over
    a text expression — the identical zip_with/filter/transform tree
    the Column form builds, as ONE parse (r12, guide §4: the chain cost
    ~500 py4j round-trips per call site per invocation; hashed_shingles
    is constructed by a dozen query families)."""
    from tcrd_spark.functions.hashing import spark_hash60

    toks = f"split({text_expr}, '\\\\s+')"
    grams = toks
    for j in range(1, n):
        grams = (
            f"zip_with({grams}, slice({toks}, {j + 1}, "
            f"greatest(size({toks}) - {j}, 0)), "
            f"(a, b) -> concat(a, ' ', b))"
        )
    sh = f"array_distinct(filter({grams}, x -> x is not null))"
    return f"array_distinct(transform({sh}, s -> {spark_hash60('s')}))"


def hashed_shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, hs): distinct 60-bit hashes of the word n-gram shingles.

    Joining/grouping on 8-byte longs instead of n-word strings cuts
    shuffle width ~5×; the oracle hashes shingles identically, so any
    (cosmically unlikely) collision affects both engines equally.
    Built as one SQL parse (shingle_hashes_sql); values identical to
    the Column form ``array_distinct(transform(shingles(...), hash60))``
    (pinned by tests/test_dedup.py).
    """
    return df.select(
        F.col(id_col),
        F.expr(shingle_hashes_sql(f"`{text_col}`", n)).alias("hs"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.3,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs ≥ threshold, via prefix
    filtering (Bayardo et al. '07 / PPJoin): shingles get a global
    canonical order (document frequency asc, hash asc — rarest first);
    a pair with J ≥ τ must share an element inside each side's first
    |d| − ⌈τ·|d|⌉ + 1 shingles, so only those prefixes are indexed.
    The highest-df shingles — the Σdf² blowup in a naive inverted-index
    self-join — land in every doc's suffix and never generate
    candidates. Verification (array_intersect on the full sets) runs on
    candidates only. Result is EXACT; 20× fewer candidate pairs than
    the naive plan on the high-overlap bench corpus.

    The one pair join here that does not go through
    `operators/blocking.candidate_pairs`: the positional filter prunes
    each matching prefix KEY (its positions on both sides), which a
    per-pair join cannot express."""
    from tcrd_spark.operators.lineage import cache

    # sh feeds both the df-frequency agg and the canonical-order join
    # below; cache so tokenize→md5 runs once (one row per doc, so AQE
    # sizes the cache's partitions from its bytes). The store's slot
    # keeps one live cache across invocations.
    i = f"`{id_col}`"
    sh = cache(
        hashed_shingles(df, id_col, text_col, n), "jaccard-sh"
    )
    inv = sh.selectExpr(i, "explode(hs) AS g")
    dfreq = inv.groupBy("g").agg(F.expr("count(1) AS dfc"))
    # per-doc shingles in canonical (dfc, g) order + the full set.
    # SQL strings throughout: one parse each, where the Column form's
    # lambdas and filter trees cost ~800 py4j round trips per call
    grouped = (
        inv.join(dfreq, "g")
        .groupBy(id_col)
        .agg(F.expr("array_sort(collect_list(struct(dfc, g))) AS sarr"))
        .selectExpr(i, "transform(sarr, x -> x.g) AS hs", "size(sarr) AS n_sh")
    )
    # referenced by 3 branches below (prefix index + both verify
    # sides); without this the tokenize→md5→sort lineage re-executes
    # per branch — 5× wall on the bench corpus. One row per doc
    # (id + sorted hash array): small at any SF, and AQE coalesces the
    # 32 shuffle partitions it is grouped into to what its bytes need,
    # so each of the three reads runs a task or a few, not 32.
    grouped = cache(grouped, "jaccard-grouped")
    # prefix inverted index WITH positions: PPJoin's positional filter
    # (Xiao et al. '08) prunes a g-match at 1-based positions (pa, pb)
    # when 1 + min(|a|-pa, |b|-pb) — the best still-possible overlap —
    # can't reach the required α = ⌈τ/(1+τ)·(|a|+|b|)⌉; the length
    # filter (min/max ≥ τ) prunes size-incompatible pairs before that.
    # Both are exactness-preserving; together they cut the candidate
    # set the verify join must ship arrays for — the dominant cost at
    # scale once the per-doc array table outgrows broadcast range.
    # Thresholds enter as DOUBLE literals (`D`): a bare 0.3 parses as
    # DECIMAL.
    tau = f"{float(threshold)!r}D"
    alpha = f"{threshold / (1.0 + threshold)!r}D"
    pinv = grouped.selectExpr(
        i,
        "n_sh",
        f"posexplode(slice(hs, 1, CAST(n_sh - ceil({tau} * n_sh) + 1 AS INT)))"
        " AS (pos, g)",
    )
    cand = (
        pinv.alias("a")
        .join(pinv.alias("b"), "g")
        .where(
            f"a.{i} < b.{i}"
            f" AND least(a.n_sh, b.n_sh) >= {tau} * greatest(a.n_sh, b.n_sh)"
            f" AND 1 + least(a.n_sh - a.pos - 1, b.n_sh - b.pos - 1)"
            f" >= ceil({alpha} * (a.n_sh + b.n_sh))"
        )
        .selectExpr(f"a.{i} AS id_a", f"b.{i} AS id_b")
        .distinct()
    )
    return jaccard_verify(cand, grouped, id_col, threshold)


def jaccard_verify(
    cand: DataFrame, sets: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """(id_a, id_b, jaccard): the candidate pairs whose exact Jaccard
    over the (id, hs) shingle-hash sets, rounded to 6, is ≥ threshold —
    array_intersect on the CANDIDATE pairs only, never all pairs. SQL
    strings: one parse each, not ~10 py4j round trips per Column
    operator."""
    a = sets.selectExpr(f"`{id_col}` AS id_a", "hs AS hs_a")
    b = sets.selectExpr(f"`{id_col}` AS id_b", "hs AS hs_b")
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .selectExpr(
            "id_a",
            "id_b",
            "size(array_intersect(hs_a, hs_b)) AS inter",
            "size(hs_a) AS na",
            "size(hs_b) AS nb",
        )
        .selectExpr(
            "id_a", "id_b", "round(inter / (na + nb - inter), 6) AS jaccard"
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_buckets(
    sh: DataFrame, id_col: str, n_perms: int, bands: int
) -> DataFrame:
    """(id, bucket): one row per LSH band of each document's MinHash
    signature over its (id, hs) shingle-hash set. The signature is pure
    arithmetic over the pre-hashed shingles (the md5 runs once per
    shingle, not once per permutation), and both the signature and the
    band keys are ONE F.expr parse each (minhash_sig_expr,
    band_hashes_expr): n_perms Column-API transform lambdas cost ~10
    py4j calls each per invocation, the parse is tree-identical. A band
    count that does not divide n_perms raises: the bands would drop
    signature rows."""
    if bands <= 0 or n_perms % bands:
        raise ValueError(
            f"n_perms ({n_perms}) must divide evenly into bands ({bands})"
        )
    sig = sh.select(id_col, minhash_sig_expr("hs", n_perms).alias("sig"))
    return sig.select(
        id_col,
        F.explode(band_hashes_expr("sig", bands, n_perms // bands)).alias(
            "bucket"
        ),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    n_perms: int = 32,
    bands: int = 16,
    threshold: float = 0.3,
) -> DataFrame:
    """MinHash + LSH banding near-dup pairs.

    shingle → minhash signature → band buckets → bucket self-join for
    candidates → exact Jaccard verify ≥ threshold. Candidate recall
    follows the (1-(1-s^r)^b) S-curve; the verify step removes false
    positives entirely, so output ⊆ ngram_jaccard_pairs output.
    """
    from tcrd_spark.operators.lineage import cache, cut

    # reused by the signature branch and both verify sides — cache so
    # the tokenize→md5 lineage runs once (one row per doc). Shingle-less
    # docs (< n tokens) are excluded: they cannot be near-dups, and
    # their all-null signatures would otherwise co-bucket every such
    # doc and divide 0/0 in the Jaccard verify.
    sh = cache(
        hashed_shingles(df, id_col, text_col, n).filter(F.size("hs") > 0),
        "minhash-sh",
    )
    # cut before the bucket self-join (r12 — the winnow/video lesson):
    # the signature + band-hash arithmetic sits ABOVE the shingle cache
    # on both join sides, so it executed twice per action; the cut
    # materializes the bands-per-doc (id, bucket) table once. Rotating
    # slot bounds session storage.
    buckets = cut(minhash_buckets(sh, id_col, n_perms, bands), "minhash-buckets")
    return jaccard_verify(
        candidate_pairs(buckets, id_col, "bucket"), sh, id_col, threshold
    )


# --- SimHash ---------------------------------------------------------------

SIMHASH_BITS = 32


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """32-bit SimHash per document (Charikar '02): for each bit, sum
    token-frequency-weighted ±1 by that bit of hash60(token); bit set
    iff sum ≥ 0.

    Implemented as explode(token)×explode(bit) → two aggregations —
    all built-in, identically expressible in the oracle SQL. At scale
    the 32× bit fan-out stays map-local until the (id, bit) partial agg.
    SQL strings, one parse each: the Column form's 32 mask structs and
    CASE trees cost ~1,650 py4j round trips per call, these ~90 (same
    expressions; tests/test_build_cost.py pins equal rows and schema).
    """
    i = f"`{id_col}`"
    masks = ", ".join(
        f"named_struct('bit', {b}, 'mask', {1 << b})" for b in range(SIMHASH_BITS)
    )
    # h is projected BEFORE the bit explode: a column beside a generator
    # in one select is evaluated above the Generate, i.e. one md5 per
    # (token, bit) instead of one per token
    tok_ct = (
        df.selectExpr(i, f"explode(split(`{text_col}`, '\\\\s+')) AS t")
        .groupBy(id_col, "t")
        .agg(F.expr("count(1) AS ct"))
        .selectExpr(i, "ct", f"{spark_hash60('t')} AS h")
    )
    per_bit = (
        tok_ct.selectExpr(i, "ct", "h", f"explode(array({masks})) AS bm")
        .selectExpr(
            i,
            "bm.bit AS bit",
            "bm.mask AS mask",
            "ct * CASE WHEN (h & bm.mask) != 0 THEN 1 ELSE -1 END AS signed",
        )
        .groupBy(id_col, "bit", "mask")
        .agg(F.expr("sum(signed) AS s"))
    )
    return per_bit.groupBy(id_col).agg(
        F.expr("sum(CASE WHEN s >= 0 THEN mask ELSE 0 END) AS simhash")
    )


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming.

    Candidate generation: split the 32-bit signature into 4 8-bit
    chunks; any pair within Hamming ≤ 3 must agree on ≥1 chunk
    (pigeonhole), so a per-chunk equality join finds all of them
    without the O(n²) scan. Verify with bit_count(xor).
    """
    sig = simhash_signatures(df, id_col, text_col)
    # cut before the chunk self-join (r12 — the winnow/video lesson):
    # the full simhash bit-vote pipeline otherwise executes on BOTH
    # sides of the join (map-side work above any reusable exchange).
    # 4 rows per doc, two longs each — bounded; rotating slot.
    from tcrd_spark.operators.lineage import cut

    chunks = ", ".join(
        f"concat_ws(':', '{j}', CAST(shiftright(simhash, {8 * j}) & 255 AS STRING))"
        for j in range(4)
    )
    chunks = cut(
        sig.selectExpr(f"`{id_col}`", "simhash", f"explode(array({chunks})) AS chunk"),
        "simhash-chunks",
    )
    pairs = candidate_pairs(chunks, id_col, "chunk", carry=("simhash",))
    return pairs.selectExpr(
        "id_a", "id_b", "bit_count(simhash_a ^ simhash_b) AS hamming"
    ).where(f"hamming <= {int(max_hamming)}")


# --- Embedding near-dup ------------------------------------------------------

# the synthetic embeddings table's vector width (TESTDATA.md)
EMB_DIM = 64


def oracle_dot(av: str, bv: str) -> str:
    """The DuckDB oracles' unrolled dot product of two EMB_DIM-wide
    lists: ``(a[1] * b[1] + ...)``, left-associative like `dot_sql`,
    so both engines add in the same float order."""
    return (
        "("
        + " + ".join(f"{av}[{i + 1}] * {bv}[{i + 1}]" for i in range(EMB_DIM))
        + ")"
    )


def dot_sql(a: str, b: str, dim: int) -> str:
    """The unrolled dot product as ONE Spark-SQL fragment. `a`/`b` are
    SQL expressions (column names, or lambda-variable field paths like
    ``x.cell_vec`` inside a higher-order function). ``t1 + t2 + ...``
    parses left-associative, so the resulting tree — and therefore the
    double result — is bit-identical to the Column-built form."""
    return " + ".join(
        f"(element_at({a}, {i + 1}) * element_at({b}, {i + 1}))"
        for i in range(dim)
    )


def dot(a: Column | str, b: Column | str, dim: int) -> Column:
    """Unrolled left-associative dot product of two double arrays.

    Unrolling (vs F.aggregate over a sequence) keeps the expression in
    whole-stage codegen — interpreted higher-order-function folds were
    ~10× slower and paid a large, variable Janino cost. Left-assoc sum
    matches the oracle SQL's explicit (t1 + t2 + ...) exactly, so the
    double result is bit-identical.

    Pass STRINGS (SQL fragments) when you can: the Column form issues
    ~4·dim py4j calls per use (measured 0.39s at dim=64, and the
    resulting tree analyzes 3× slower), the string form is one
    ``F.expr`` parse (3ms) of the SAME tree — query construction was
    the dominant cost of the ANN/kmeans family at bench scale.
    """
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(dot_sql(a, b, dim))
    terms = [
        F.element_at(a, i + 1) * F.element_at(b, i + 1) for i in range(dim)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def l2_normalize(v: Column, dim: int) -> Column:
    """v / ||v|| as a double array (zero vectors → nulls)."""
    nrm = F.sqrt(dot(v, v, dim))
    return F.transform(v, lambda x: x / nrm)


def cosine(a: Column, b: Column, dim: int) -> Column:
    """Cosine similarity of two equal-length double arrays.

    Prefer normalizing each side ONCE (l2_normalize) and taking dot():
    at n² pair scale that's 3× fewer flops and one map pass per row.
    This convenience form computes norms inline.
    """
    return dot(a, b, dim) / (
        F.sqrt(dot(a, a, dim)) * F.sqrt(dot(b, b, dim))
    )


# Hard ceiling on the broadcast side of the brute-force matmul:
# n·dim·8 bytes ≈ 1 GB at 2M×64. Past this, brute force is the WRONG
# tool — the guard fails fast instead of silently OOMing the driver.
MAX_BRUTE_FORCE_VECTORS = 2_000_000


def embedding_near_dups(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.95,
    max_vectors: int = MAX_BRUTE_FORCE_VECTORS,
) -> DataFrame:
    """Embedding-cosine near-dup pairs ≥ threshold (brute-force).

    Physical plan: the corpus matrix (ids + vectors, n×dim doubles) is
    broadcast once; each Arrow batch of the partitioned side computes
    one BLAS matmul against it (`mapInPandas`) and emits only the
    surviving (id_a < id_b, cos ≥ threshold) pairs. This replaces the
    interpreted BroadcastNestedLoopJoin a `join(a.id < b.id)` cross
    join degrades to — ~100× less per-pair overhead, and the shuffle
    carries only survivors.

    Brute-force is the exact O(n²)-flop baseline; it scales out in the
    partitioned side but requires the broadcast side to fit in executor
    memory (n·dim·8 bytes — 1 GB at 2M×64). The `max_vectors` guard
    enforces that bound with a limit-probe (no separate count job):
    exceeding it raises rather than OOMs, and the caller should switch
    to the IVF / LSH bucketing in pipeline/similarity.py — the 100 TB
    path.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    vecs = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    ).dropna()
    corpus = vecs.limit(max_vectors + 1).toPandas()
    if len(corpus) > max_vectors:
        raise ValueError(
            f"embedding_near_dups: corpus exceeds {max_vectors} vectors; "
            "brute force would overrun the broadcast budget — use the "
            "IVF/LSH path (pipeline/similarity.py) instead"
        )
    spark = df.sparkSession
    if corpus.empty:
        return spark.createDataFrame([], "id_a long, id_b long, cos_sim double")
    c_ids = corpus[id_col].to_numpy()
    c_mat = np.stack(corpus["v"].to_numpy())  # n × dim
    c_nrm = np.sqrt((c_mat * c_mat).sum(axis=1))
    bc = spark.sparkContext.broadcast((c_ids, c_mat.T.copy(), c_nrm))

    out_schema = StructType(
        [
            StructField("id_a", df.schema[id_col].dataType),
            StructField("id_b", df.schema[id_col].dataType),
            StructField("cos_sim", DoubleType()),
        ]
    )

    def block_pairs(batches):
        ids_c, mat_t, nrm_c = bc.value
        for pdf in batches:
            a_ids = pdf[id_col].to_numpy()
            a_mat = np.stack(pdf["v"].to_numpy())
            a_nrm = np.sqrt((a_mat * a_mat).sum(axis=1))
            # raw dot / (‖a‖·‖b‖), same formula as the oracle SQL;
            # round to 6 so BLAS vs left-assoc summation can't differ
            sims = np.round(
                (a_mat @ mat_t) / np.outer(a_nrm, nrm_c), 6
            )
            keep = (sims >= threshold) & (a_ids[:, None] < ids_c[None, :])
            ai, ci = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "id_a": a_ids[ai],
                    "id_b": ids_c[ci],
                    "cos_sim": sims[ai, ci],
                }
            )

    return vecs.mapInPandas(block_pairs, schema=out_schema)


# Block cap of the blocked scorer: B blocks bound one task's memory at
# 2·(n/B)·dim·8 bytes. Tests force other counts by patching it.
_MAX_BLOCKS = 16
# Vectors per block when the caller knows the row count: a small corpus
# then gets fewer blocks instead of B(B+1)/2 Python-task launches over
# matmuls of a few rows (measured on the SemDeDup panel, pair sets
# identical: 7.2s vs 1.2s at 100 gated survivors, 1.5s vs 0.6s at the
# full 2000 vectors, min-of-5). Hash-uniform blocks keep the per-task
# bound whatever the group skew.
_BLOCK_ROWS = 2048


def _adaptive_blocks(n_rows: int | None) -> int:
    if n_rows is None:
        return _MAX_BLOCKS
    return max(1, min(_MAX_BLOCKS, -(-int(n_rows) // _BLOCK_ROWS)))


def embedding_near_dups_blocked(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.95,
    group_col: str | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs ≥ threshold — distributed exact
    block-pair plan, the 100 TB path: ([group_col,] id_a, id_b,
    cos_sim), id_a < id_b.

    Vectors hash into B blocks; the B(B+1)/2 unordered block pairs
    form a tiny broadcast grid, each vector is replicated to the B+1
    grid rows its block participates in, and one applyInPandas task
    per block pair runs the BLAS matmul between its two blocks. Same
    exact O(n²) flops and the identical rounded-cosine values as
    `embedding_near_dups`, but nothing touches the driver, task memory
    is bounded by 2·(n/B)·dim·8 bytes, and the only shuffle is the
    (B+1)-fold replication. Every pair of vectors meets in exactly one
    task, so no dedup pass is needed.

    ``group_col`` scopes pairs to one group (SemDeDup's cell_id): it
    joins the grouping key, so cross-group pairs cannot exist and a
    hot group spreads over B(B+1)/2 bounded tasks. B is _MAX_BLOCKS,
    or sized from ``n_rows`` (_adaptive_blocks) when the caller knows
    the row count; the output is the same for every B. Rows with a
    NULL id, vector or group pair with nothing, as in the equi-join
    scorer (semdedup.semantic_pairs).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    spark = df.sparkSession
    n_blocks = _adaptive_blocks(n_rows)
    keys = [group_col] if group_col else []
    vecs = df.select(
        *keys,
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks)).alias("blk"),
    ).dropna(subset=[*keys, "_id", "v"])
    r = spark.range(n_blocks)
    grid = F.broadcast(
        r.toDF("bi").crossJoin(r.toDF("bj")).filter(F.col("bi") <= F.col("bj"))
    )
    left = vecs.join(grid, vecs.blk == grid.bi).select(
        *keys, "bi", "bj", F.lit("L").alias("role"), "_id", "v"
    )
    right = (
        vecs.join(grid, vecs.blk == grid.bj)
        # diagonal cells get their rows once via the L side
        .filter(F.col("bi") != F.col("bj"))
        .select(*keys, "bi", "bj", F.lit("R").alias("role"), "_id", "v")
    )
    tagged = left.unionByName(right)

    id_type = df.schema[id_col].dataType
    out_schema = StructType(
        [StructField(k, df.schema[k].dataType) for k in keys]
        + [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("cos_sim", DoubleType()),
        ]
    )
    empty = pd.DataFrame({f.name: [] for f in out_schema.fields})

    def cell(pdf: pd.DataFrame) -> pd.DataFrame:
        lpdf = pdf[pdf["role"] == "L"]
        rpdf = pdf[pdf["role"] == "R"]
        # the diagonal is identified by its KEY, never by an empty R
        # side — a cross cell whose partner block happens to be empty
        # must emit nothing, not re-pair L against itself
        is_diag = pdf["bi"].iat[0] == pdf["bj"].iat[0]
        if len(lpdf) == 0 or (not is_diag and len(rpdf) == 0):
            return empty
        a_ids = lpdf["_id"].to_numpy()
        a_mat = np.stack(lpdf["v"].to_numpy())
        a_nrm = np.sqrt((a_mat * a_mat).sum(axis=1))
        if is_diag:  # pair the block against itself
            b_ids, b_mat, b_nrm = a_ids, a_mat, a_nrm
        else:
            b_ids = rpdf["_id"].to_numpy()
            b_mat = np.stack(rpdf["v"].to_numpy())
            b_nrm = np.sqrt((b_mat * b_mat).sum(axis=1))
        # identical formula + rounding to the brute-force baseline and
        # the oracle SQL, so the three agree bit-for-bit
        sims = np.round((a_mat @ b_mat.T) / np.outer(a_nrm, b_nrm), 6)
        keep = sims >= threshold
        ai, bi_ = np.nonzero(keep)
        id_a, id_b = a_ids[ai], b_ids[bi_]
        if is_diag:
            # the self-matmul is symmetric: each pair shows up at
            # (i,j) AND (j,i) — keep the strict upper triangle only
            mask = id_a < id_b
            lo, hi = id_a, id_b
        else:
            # cross cells see each unordered pair exactly once;
            # orient it (block membership says nothing about id order)
            lo, hi = np.minimum(id_a, id_b), np.maximum(id_a, id_b)
            mask = lo < hi
        out = {k: pdf[k].iat[0] for k in keys}
        out.update(id_a=lo[mask], id_b=hi[mask], cos_sim=sims[ai, bi_][mask])
        return pd.DataFrame(out)

    # no dedup pass: a pair (x∈p, y∈q) exists only in cell (p,q)
    return tagged.groupBy(*keys, "bi", "bj").applyInPandas(
        cell, schema=out_schema
    )


def embedding_near_dups_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 16,
    n_bands: int = 4,
    seed: int = 13,
) -> DataFrame:
    """Approximate embedding near-dup — the SUB-quadratic scale path.

    Random-hyperplane LSH (Charikar '02): sign(v·r_j) over n_planes
    seeded Gaussian hyperplanes gives a bit signature whose collision
    probability is 1 − θ/π per bit; banding the bits (n_bands bands of
    n_planes/n_bands) turns that into the usual S-curve. Candidates =
    pairs sharing ANY band key (equality bucket join, like the MinHash
    path); each candidate then verifies with the EXACT rounded cosine,
    so every emitted pair is a true near-dup — only recall is
    approximate (a pair split across all bands is missed).

    Scale: signatures compute map-side (one small matmul per Arrow
    batch against the broadcast n_planes×dim matrix); the shuffle
    carries (band_key, id) pairs; verification joins vectors back for
    candidates only. Nothing is ever all-pairs and nothing touches
    the driver.
    """
    import numpy as np
    import pandas as pd

    if n_planes % n_bands:
        raise ValueError("n_planes must divide evenly into n_bands")
    rows_per_band = n_planes // n_bands
    planes = np.random.default_rng(seed).standard_normal((dim, n_planes))
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(planes)

    vecs = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )

    def signature(batches):
        p = bc.value
        for pdf in batches:
            m = np.stack(pdf["v"].to_numpy())
            bits = (m @ p) >= 0  # n × n_planes
            out = {"_id": pdf["_id"]}
            for b in range(n_bands):
                chunk = bits[:, b * rows_per_band : (b + 1) * rows_per_band]
                key = chunk @ (1 << np.arange(rows_per_band))
                out[f"band{b}"] = [f"{b}:{k}" for k in key]
            yield pd.DataFrame(out)

    id_type = dict(vecs.dtypes)["_id"]
    sig_schema = f"_id {id_type}, " + ", ".join(
        f"band{b} string" for b in range(n_bands)
    )
    sigs = vecs.mapInPandas(signature, sig_schema)

    bands = sigs.select(
        "_id",
        F.explode(F.array(*[F.col(f"band{b}") for b in range(n_bands)])).alias(
            "bkey"
        ),
    )
    va = vecs.select(
        F.col("_id").alias("id_a"),
        F.col("v").alias("va"),
        F.sqrt(dot("v", "v", dim)).alias("na"),
    )
    vb = vecs.select(
        F.col("_id").alias("id_b"),
        F.col("v").alias("vb"),
        F.sqrt(dot("v", "v", dim)).alias("nb"),
    )
    return (
        candidate_pairs(bands, "_id", "bkey")
        .join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                dot("va", "vb", dim)
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
