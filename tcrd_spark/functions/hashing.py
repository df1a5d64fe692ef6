"""Portable deterministic hashing shared by the dedup / fingerprint /
LSH operators.

Every hash here is defined so the exact same value is computable in
ANSI-ish SQL (DuckDB oracle) and in a Spark column expression: the
primitive is the first 15 hex digits of md5 (a 60-bit integer), which
both engines produce byte-identically. On top of it we build:

- ``hash60``          — 60-bit token hash (md5 prefix), with
                        ``spark_hash60`` / ``sql_hash60`` as its
                        Spark-SQL and DuckDB strings
- ``minhash_sig_expr`` — minhash signature: per permutation
                        (a*h+b) mod P over the 31-bit reduction of
                        hash60 (no 64-bit overflow: h%P < 2^31,
                        a < 2^31 → a*(h%P)+b < 2^62), parsed once
- ``band_hashes_expr`` — every LSH band key of a signature, parsed once
- ``rolling_fingerprint`` — polynomial rolling hash over a token array
                        (the document-fingerprinting primitive)

Spark-side everything is built-in expressions (whole-stage codegen,
no Python). At 100 TB these run map-side with zero shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne prime 2^31-1: modulus for universal hashing / minhash perms.
MERSENNE_P = 2_147_483_647
# modulus for the rolling fingerprint (fits repeated (acc*31+h) in int64)
FP_MOD = 1_000_000_007


def hash60(col: Column | str) -> Column:
    """First 60 bits of md5 as a non-negative bigint.

    DuckDB twin: ``CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)``.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def minhash_params(n_perms: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for n universal-hash permutations.

    Uses a fixed LCG so the identical constants can be inlined into the
    oracle SQL (no RNG library dependence on either engine).
    """
    params = []
    x = seed
    for _ in range(n_perms):
        x = (1103515245 * x + 12345) % (1 << 31)
        a = (x % (MERSENNE_P - 1)) + 1  # a ∈ [1, P-1]
        x = (1103515245 * x + 12345) % (1 << 31)
        b = x % MERSENNE_P  # b ∈ [0, P-1]
        params.append((a, b))
    return params


def minhash_sig_expr(
    hashes_col: str, n_perms: int, seed: int = 7
) -> Column:
    """The minhash signature over a PRE-HASHED long array column, as
    ONE Spark-SQL parse: ``array_min(transform(hs, h -> (a*(h%P)+b)%P))``
    per permutation, min over the tokens of each permuted hash (the
    classic shingle→minhash step of MinHash dedup, Broder '97). n_perms
    transform lambdas built through the Column API would cost ~10 py4j
    calls each per invocation (the ``dot()`` lesson); this is a single
    ``F.expr`` parse."""
    p = MERSENNE_P
    terms = ", ".join(
        f"array_min(transform({hashes_col}, "
        f"h -> ({a} * (h % {p}) + {b}) % {p}))"
        for a, b in minhash_params(n_perms, seed)
    )
    return F.expr(f"array({terms})")


def band_hashes_expr(sig_col: str, bands: int, rows_per_band: int) -> Column:
    """All LSH band keys of a signature column as ONE parsed array
    expression (explode-ready): band b's key is ``'b,'`` followed by
    its signature slice joined to a string (portable, no extra
    hashing needed for bucketing correctness)."""
    parts = ", ".join(
        "concat_ws(',', '{b}', array_join(transform("
        "slice({s}, {o}, {r}), x -> cast(x as string)), ','))".format(
            b=b, s=sig_col, o=b * rows_per_band + 1, r=rows_per_band
        )
        for b in range(bands)
    )
    return F.expr(f"array({parts})")


def rolling_fingerprint(tokens: Column) -> Column:
    """Polynomial rolling hash over the token array:
    fold acc = (acc*31 + hash60(t) mod M) mod M, acc0 = 0.

    DuckDB twin uses list_reduce over a 0-prepended hash list (DuckDB's
    reduce seeds from the first element; prepending 0 aligns the fold).
    """
    return F.aggregate(
        tokens,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * F.lit(31) + hash60(t) % F.lit(FP_MOD)) % F.lit(FP_MOD),
    )


def sql_hash60(expr: str) -> str:
    """DuckDB SQL string for hash60 of an expression."""
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


def spark_hash60(expr: str) -> str:
    """Spark-SQL string twin of ``hash60`` for one-parse F.expr
    construction (the minhash_sig_expr lesson: Column-API lambdas cost
    ~10 py4j round-trips each per invocation; a single parse costs
    one). Produces the identical expression tree as ``hash60``."""
    return f"cast(conv(substring(md5({expr}), 1, 15), 16, 10) as bigint)"
