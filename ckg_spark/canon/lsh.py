"""MinHash signatures + LSH banding for candidate-pair blocking.

Scale rationale: the naive way to find similar alias strings is an all-pairs
comparison — O(n^2) and impossible at a UMLS-sized vocabulary or a
10^12-document corpus. MinHash-LSH turns it into:

1. signature: k min-hashes over the token set — fully JVM-side
   (``xxhash64(seed_i, token)`` inside ``transform``/``array_min``, i.e.
   whole-stage codegen; no Python workers, no shuffle);
2. banding: explode k hashes into b bands of r rows; equal band-hash =>
   same bucket (one shuffle, on the band key);
3. candidate pairs: self-join within buckets (bounded by bucket size);
   downstream verifies with the exact predicate.

Identical token sets produce identical signatures, so recall is exactly 1.0
for the exact-normalized-match predicate the KG canonicalizer verifies with;
for fuzzy thresholds the usual (1/b)^(1/r) s-curve applies.

All hashing is deterministic (xxhash64 with literal per-index seeds) —
no ``Math.random``/wall-clock anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime); a_i*x + c_i < 2^62

# -- portable cross-engine hashing ---------------------------------------
# The driver's correctness gate runs the same query on Spark and DuckDB;
# Spark's xxhash64 has no DuckDB twin, which left the whole LSH family
# permanently `no_oracle`. These helpers extend the split_u/lowbias32
# precedent (ops/curation.py — pure integer arithmetic both engines
# compute identically) to STRINGS via standard MD5: both engines hash
# UTF-8 bytes to the same digest (parity verified incl. non-BMP
# unicode), and the leading hex digits parse to the same integer.
# MD5 is ~an order of magnitude slower than xxhash64 per byte, so this
# is the CERTIFIABLE basis the catalog queries run, not the default
# corpus basis — the family/banding/verify plumbing is identical either
# way, and the recall gates cover both.

PORTABLE_MIX = 0x45D9F3B  # lowbias32 multiplier (public-domain constant)
_M32 = 4294967296


def portable_hash60(c) -> F.Column:
    """60-bit cross-engine string hash: leading 15 hex digits of MD5.
    15 digits keep the value < 2^60, inside signed-long range on both
    engines (16 would need unsigned). SQL twin: :func:`portable_hash60_sql`."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def portable_hash60_sql(expr: str) -> str:
    """DuckDB rendering of :func:`portable_hash60` (verified identical)."""
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


def portable_hash64(c) -> F.Column:
    """64-bit cross-engine string hash as a SIGNED long: two 32-bit MD5
    slices packed hi<<32|lo (shiftleft wraps, never overflows). The
    DuckDB twin computes the same bit pattern UNSIGNED (UBIGINT
    hi*2^32+lo); bitwise consumers (SimHash voting, hamming) agree."""
    hi = F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(F.md5(c), 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def portable_hash64_sql_unsigned(expr: str) -> str:
    """DuckDB UBIGINT rendering of the :func:`portable_hash64` bit
    pattern (unsigned value of the same 64 bits)."""
    return (
        f"(CAST(CAST('0x' || substr(md5({expr}), 1, 8) AS BIGINT) AS UBIGINT)"
        f" * 4294967296 + CAST(CAST('0x' || substr(md5({expr}), 9, 8) AS "
        f"BIGINT) AS UBIGINT))"
    )


def portable_band_hash(band_idx: int, elems: list) -> F.Column:
    """Cross-engine band-bucket hash: fold the band's signature values
    through a polynomial step ``h = (h*MIX + v) mod 2^32`` — each step
    references the running state exactly ONCE, so the expression tree
    (and the rendered DuckDB SQL text) grows LINEARLY in rows_per_band.
    An xorshift step (xor(h>>16,h)) would reference h twice and double
    the tree per iteration — the 2^r plan-size trap this repo has been
    burned by in unrolled oracles; the single xorshift finalizer is a
    constant factor. Widths: state < 2^32, *MIX < 2^58, +v < 2^58.3 —
    signed-long safe under ANSI on both engines. 32 output bits are
    plenty for BUCKETING — a band-hash collision only adds a candidate
    pair that the exact verify step re-checks; what matters for the
    gate is that both engines compute the identical value, which pure
    integer arithmetic guarantees."""
    h = F.lit(band_idx).cast("long")
    for e in elems:
        h = F.pmod(h * F.lit(PORTABLE_MIX) + e, F.lit(_M32))
    return F.shiftright(h, 16).bitwiseXOR(h)


def portable_band_hash_sql(band_idx: int, elem_exprs: list[str]) -> str:
    """DuckDB rendering of :func:`portable_band_hash` (same pmod
    spelling as split_u_sql; all operands non-negative)."""
    h = str(band_idx)
    for e in elem_exprs:
        h = f"(((({h} * {PORTABLE_MIX}) + ({e})) % {_M32} + {_M32}) % {_M32})"
    return f"xor({h} >> 16, {h})"


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """The affine-permutation family's (a_i, c_i), fixed-seed — shared by
    the JVM signature path below and the numpy corpus path in ops/dedup
    so both produce bit-identical signatures over the same bases."""
    import random

    rng = random.Random(0x5EED)
    return [
        (rng.randrange(1, MINHASH_P), rng.randrange(0, MINHASH_P))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    items: DataFrame,
    key_col: str,
    tokens_col: str,
    num_hashes: int = 32,
    hash_basis: str = "xxhash64",
) -> DataFrame:
    """items(key, tokens: array<string>) -> (key, signature: array<long>).

    Fully JVM-side: one ``xxhash64`` base per token, then hash family i is
    the affine permutation ``h_i(x) = (a_i*x + c_i) mod p`` over the base
    (details below); sig[i] = min over the tokens. A narrow map with zero
    shuffles and zero Python — the previous pandas-UDF version spent the
    whole stage in per-byte FNV hashing in Python (the classic
    UDF-in-the-hot-path trap; SURVEY.md §4).

    The family MUST actually reorder tokens independently per i. Two
    traps, both caught by the planted-near-dup recall gate in
    tests/test_ops.py (a degenerate family matches all bands or none, so
    the LSH s-curve collapses to a step):

    - **the lambda-arity trap**: ``F.transform(toks, lambda t, i=i: ...)``
      looks like a closure over the loop variable, but pyspark inspects
      the lambda's SIGNATURE — two parameters means it is called as
      (element, index), so ``i`` silently becomes the element's ARRAY
      INDEX column and every "family" is the identical function. Bind
      per-family constants through a factory function returning a
      one-parameter lambda, never through default arguments.
    - Kirsch-Mitzenmacher ``b1 + i*b2`` is linear in i with a shared
      coefficient per token, so the argmin over tokens is the lower
      envelope of n lines — it changes only at envelope vertices, and
      consecutive families share argmins almost always. Fine for Bloom
      filters, degenerate for min-wise hashing.

    The family here is the classical affine permutation over Z_p:
    ``h_i(x) = (a_i*x + c_i) mod p`` with p = 2^31 - 1 and per-family
    constants a_i, c_i drawn from a fixed-seed PRNG at plan-build time —
    multiplication mod p genuinely reorders per family. One xxhash64 per
    token total, then a multiply-add-mod per family (cheaper than k
    per-family string rehashes on the corpus-scale dedup path). Products
    stay < 2^62, so ANSI long arithmetic cannot overflow. The base-hash
    array is PROJECTED into a column before the per-family lambdas
    reference it (a computed expression inside a higher-order-function
    lambda re-evaluates per element — the HOF-CSE trap, BENCH.md).

    Identical token *sets* give identical signatures (min is duplicate- and
    order-insensitive) — the recall-1.0 property downstream exact verifiers
    rely on. Empty/null token arrays sign as all-zeros.
    """
    p = MINHASH_P
    coeffs = minhash_coeffs(num_hashes)
    toks = F.coalesce(F.col(tokens_col), F.array().cast("array<string>"))
    # base-hash basis: xxhash64 (fast JVM intrinsic, default) or the
    # portable MD5 mixer (cross-engine identical — the basis the
    # DuckDB-twinned catalog queries run; see the portable section above)
    if hash_basis == "portable":
        bases = F.transform(toks, lambda t: F.pmod(portable_hash60(t), F.lit(p)))
    elif hash_basis == "xxhash64":
        bases = F.transform(toks, lambda t: F.pmod(F.xxhash64(t), F.lit(p)))
    else:
        raise ValueError(f"unknown hash_basis {hash_basis!r}")
    with_bases = items.select(F.col(key_col).alias("key"), bases.alias("__bases__"))

    def affine(a: int, c: int):
        # one-parameter lambda via factory: see the lambda-arity trap above
        return lambda x: F.pmod(F.lit(a) * x + F.lit(c), F.lit(p))

    sig_cols = [
        F.array_min(F.transform(F.col("__bases__"), affine(a, c))) for a, c in coeffs
    ]
    signature = F.transform(F.array(*sig_cols), lambda s: F.coalesce(s, F.lit(0)))
    return with_bases.select("key", signature.alias("signature"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 8,
    rows_per_band: int = 4,
    broadcast_build_side: bool = False,
    band_hash: str = "xxhash64",
) -> DataFrame:
    """(key, signature) -> distinct candidate pairs (key_a < key_b).

    One shuffle on (band, band_hash); the within-bucket self-join is bounded
    by bucket size, and the distinct() collapses pairs found in multiple
    bands before any expensive verification runs.

    ``broadcast_build_side=True`` skips the shuffle entirely by broadcasting
    one side of the self-join — correct ONLY for dimension-sized inputs
    (vocab canonicalization); corpus-scale dedup must leave it False.
    """
    n = bands * rows_per_band
    # eager bounds probe (one narrow limit-1 job): a banding config that
    # disagrees with the signature length would otherwise surface as an
    # opaque ANSI INVALID_ARRAY_INDEX executor failure mid-join (this
    # session runs ANSI mode) — or, worse, silently band a PREFIX of the
    # signature if the length were larger than bands*rows_per_band
    probe = signatures.select(F.size("signature").alias("_n")).head(1)
    if probe and probe[0]["_n"] != n:
        raise ValueError(
            f"signature length {probe[0]['_n']} != bands*rows_per_band = "
            f"{bands}*{rows_per_band} = {n}: rebuild signatures with "
            f"num_hashes={n} or adjust the banding"
        )
    if band_hash == "portable":
        band_cols = [
            portable_band_hash(
                b,
                [
                    F.element_at("signature", b * rows_per_band + r + 1)
                    for r in range(rows_per_band)
                ],
            ).alias("band_hash")
            for b in range(bands)
        ]
    elif band_hash == "xxhash64":
        band_cols = [
            F.xxhash64(
                F.lit(b), *[F.element_at("signature", b * rows_per_band + r + 1) for r in range(rows_per_band)]
            ).alias("band_hash")
            for b in range(bands)
        ]
    else:
        raise ValueError(f"unknown band_hash {band_hash!r}")
    buckets = signatures.select(
        "key",
        F.posexplode(F.array(*band_cols)).alias("band", "band_hash"),
    )
    a = (F.broadcast(buckets) if broadcast_build_side else buckets).alias("a")
    b = buckets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.key") < F.col("b.key")),
        )
        .select(F.col("a.key").alias("key_a"), F.col("b.key").alias("key_b"))
        .distinct()
    )
    return pairs
