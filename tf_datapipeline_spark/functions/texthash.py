"""Cross-engine deterministic string hashing.

Dedup operators (MinHash, SimHash) need a string→uint32 hash that Spark
and the DuckDB oracle compute identically. Engine-native hashes
(xxhash64, duckdb hash()) differ, so we build one from primitives both
engines share bit-for-bit: md5 hex + instr-based hex-digit decoding.

    hash32(s) = int(md5(s)[:8], 16)

expressed as SUM over 8 hex digits of (instr('0123456789abcdef', digit)-1)
* 16^(8-i). The same SQL text parses in Spark SQL and DuckDB, so the Spark
side just wraps it in F.expr — one definition, two engines.

At 100 TB this is still executor-side, codegen-compatible scalar work (md5
+ fixed arithmetic), embarrassingly parallel; k MinHash permutations reuse
ONE md5 per shingle via (a_k * h + b_k) mod p universal hashing.
"""

from __future__ import annotations

# Mersenne prime 2^31 - 1: universal-hash modulus; (a*h+b) stays < 2^63.
MERSENNE = 2147483647

# Deterministic (a_k, b_k) pairs for the k MinHash permutations, from a
# fixed LCG (seed constants are arbitrary but frozen: the signature is
# part of the operator's contract).
def minhash_params(k: int, seed: int = 7) -> list[tuple[int, int]]:
    params = []
    state = seed
    for _ in range(k):
        state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
        a = state % (MERSENNE - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
        b = state % MERSENNE
        params.append((a, b))
    return params


def sql_md5_window(
    md5_expr: str, dialect: str = "portable", start: int = 1, width: int = 8
) -> str:
    """The BIGINT value of `width` hex digits of the md5 hex digest
    `md5_expr`, from 1-based offset `start`: the one hex-window decoder.
    Several windows of one digest give independent hash values (Bloom
    double hashing reads offsets 1 and 9); width 15 is the wide-keyspace
    variant, still < 2^60 in signed BIGINT, for key universes that can
    approach 2^32 at 100 TB (KMV bottom-k order statistics, corpus-wide
    gram join keys). Spark spells it conv(), one JVM intrinsic; any other
    dialect gets the instr digit arithmetic, which parses identically in
    Spark SQL and DuckDB (the portable form). Pass a projected digest
    column: the digit decode references it `width` times."""
    if dialect == "spark":
        return f"CAST(conv(substr({md5_expr}, {start}, {width}), 16, 10) AS BIGINT)"
    terms = []
    for i in range(width):
        digit = f"substr({md5_expr}, {start + i}, 1)"
        val = f"CAST(instr('0123456789abcdef', {digit}) - 1 AS BIGINT)"
        terms.append(f"{val} * {16 ** (width - 1 - i)}")
    return "(" + " + ".join(terms) + ")"


def sql_hash32(expr: str, dialect: str = "portable") -> str:
    """int(md5(expr)[:8], 16) as BIGINT (see sql_md5_window). Both
    spellings give the same integer: every oracle-checked hash query
    compares Spark's conv() against the oracle's digit arithmetic."""
    return sql_md5_window(f"md5({expr})", dialect)


def sql_minhash_perm(h_expr: str, a: int, b: int) -> str:
    """One universal-hash permutation of a 32-bit hash value. The input is
    reduced mod the Mersenne prime first so a*h stays under 2^62 (Spark
    runs ANSI mode: BIGINT overflow is an error, not a wrap)."""
    return f"(({a} * ({h_expr} % {MERSENNE}) + {b}) % {MERSENNE})"


def sql_shl1(bit: str) -> str:
    """BIGINT 1 << bit (Spark's shiftleft, which both engines parse as <<)."""
    return f"(CAST(1 AS BIGINT) << CAST({bit} AS INT))"


# Bloom filter geometry: m bits (prime, so the double-hash probe sequence
# has full period) in 63-bit BIGINT words (63 keeps shiftleft off the
# sign bit under ANSI), k probes per key.
BLOOM_M = 64513
BLOOM_K = 3
BLOOM_WORD = 63


def sql_bloom_hashes(md5_expr: str, dialect: str) -> tuple[str, str]:
    """(h1, h2) for Bloom double hashing from ONE md5 digest: probe i of
    a key sits at bit (h1 + i * h2) % BLOOM_M. h1 is the digest's 8-hex
    window at offset 1; h2 = 1 + (window at 9) % (BLOOM_M - 1). That
    stride guard keeps the stride in [1, m-1], never 0: without it a key
    whose raw h2 is divisible by m puts all k probes on one bit."""
    h1 = sql_md5_window(md5_expr, dialect)
    h2 = f"(1 + (({sql_md5_window(md5_expr, dialect, start=9)}) % {BLOOM_M - 1}))"
    return h1, h2
