"""MinHash family + LSH banding for near-duplicate candidate blocking.

Scale rationale: the naive way to find near-duplicate documents is an
all-pairs comparison — O(n^2) and impossible at a 10^12-document corpus.
MinHash-LSH turns it into:

1. signature: k min-hashes over the shingle set, one affine permutation
   per hash over a single base hash (``minhash_coeffs``; the corpus
   signature pass is ``ops/dedup.minhash_signatures_corpus``);
2. banding: explode k hashes into b bands of r rows; equal band-hash =>
   same bucket (one shuffle, on the band key);
3. candidate pairs: self-join within buckets (bounded by bucket size);
   downstream verifies with exact shingle Jaccard.

Candidate recall follows the usual 1-(1-s^r)^b s-curve in the Jaccard s.

All hashing is deterministic (fixed-seed coefficients, literal per-band
seeds) — no ``Math.random``/wall-clock anywhere.
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
    the numpy corpus path in ops/dedup and the catalog's DuckDB MinHash
    twin so both compute bit-identical signatures over the same bases.

    ``h_i(x) = (a_i*x + c_i) mod p`` over one base hash per shingle:
    multiplication mod p reorders the shingles independently per family,
    and products stay < 2^62. A Kirsch-Mitzenmacher ``b1 + i*b2`` family
    would not do: it is linear in i, so consecutive families share their
    argmin almost always and the LSH s-curve collapses to a step."""
    import random

    rng = random.Random(0x5EED)
    return [
        (rng.randrange(1, MINHASH_P), rng.randrange(0, MINHASH_P))
        for _ in range(num_hashes)
    ]


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 8,
    rows_per_band: int = 4,
    band_hash: str = "xxhash64",
) -> DataFrame:
    """(key, signature) -> distinct candidate pairs (key_a < key_b).

    One shuffle on (band, band_hash); the within-bucket self-join is bounded
    by bucket size, and the distinct() collapses pairs found in multiple
    bands before any expensive verification runs.
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
    a = buckets.alias("a")
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
