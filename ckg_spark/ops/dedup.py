"""Deduplication operators for web-scale training-data pipelines.

Five strategies, cheapest first. All are expressed so the expensive pairwise
work only ever happens *inside a blocking bucket*, never all-pairs:

- exact:        hash-groupBy on content (or bag-of-words) — one shuffle;
- minhash-LSH:  shingle -> minhash signature (narrow map) -> band buckets
                (one shuffle) -> verified pairs;
- simhash:      64-bit weighted fingerprint; near-dups = small hamming
                distance, blocked on 4x16-bit chunks (pigeonhole: distance
                <=3 guarantees one identical chunk);
- n-gram jaccard: exact verification predicate used by the LSH path;
- embedding:    cosine near-dup over vectors (delegates to simsearch).

The reference's only dedup is in-memory ``set()`` accumulation per parser
(/root/reference src/graphdb_builder/databases/parsers/stringParser.py:54-58,
builder_utils.py:123-138 writes ``pd.DataFrame(list(set(...)))``); these
operators are its distributed generalization for corpora that do not fit
any single machine.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..canon.lsh import lsh_candidate_pairs


# -- exact ---------------------------------------------------------------
def exact_dup_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical content: (content_hash, content_hash2,
    n_docs, keeper_id). keeper = min id (deterministic). One
    hash-aggregate shuffle; hashes are computed JVM-side so no text ever
    reaches Python. TWO independent xxhash64 keys (the second is
    domain-separated by a literal prefix) give 128 collision bits — a
    single 64-bit key has realistic birthday collisions at crawl scale
    (~0.5 at 5B docs), and a collision here DELETES a unique document
    downstream (curate.py drops non-keepers). Still ~an order of
    magnitude faster per byte than md5. The DuckDB oracle compares the
    hash-agnostic group structure (n_docs, keeper_id), identical under
    any collision-free hash."""
    return (
        docs.select(
            F.col(id_col),
            F.xxhash64(F.col(text_col)).alias("content_hash"),
            F.xxhash64(F.lit("h2"), F.col(text_col)).alias("content_hash2"),
        )
        .groupBy("content_hash", "content_hash2")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keeper_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def bag_of_words_dup_groups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Order-insensitive exact dedup: hash of the sorted token multiset.
    Catches token-shuffled boilerplate that byte-hashing misses."""
    toks = F.array_sort(F.split(F.lower(F.col(text_col)), r"\s+"))
    bow = F.array_join(toks, " ")
    return (
        docs.select(
            F.col(id_col),
            F.xxhash64(bow).alias("bow_hash"),
            F.xxhash64(F.lit("h2"), bow).alias("bow_hash2"),
        )
        .groupBy("bow_hash", "bow_hash2")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keeper_id"))
        .filter(F.col("n_docs") > 1)
    )


# -- shingles + minhash ---------------------------------------------------
def word_shingles(docs: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingles array<string>) — word n-grams, JVM-side via transform
    over a token-index sequence (no Python).

    Two projections on purpose: tokenization materializes into a column
    BEFORE the per-index lambda touches it. Referencing the split()
    expression inside the transform lambda re-evaluates the split once per
    array element (no common-subexpression elimination through higher-order
    functions) — measured 10x slower than this form."""
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda t: t != F.lit("")
    )
    tokenized = docs.select(F.col(id_col).cast("string").alias("key"), toks.alias("tk"))
    tk = F.col("tk")
    idx = F.sequence(F.lit(0), F.greatest(F.size(tk) - n, F.lit(0)))
    # try_element_at: docs shorter than n tokens index past the end, which
    # plain element_at rejects under ANSI mode; concat_ws drops the nulls.
    shingle_at = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.try_element_at(tk, i + j + 1) for j in range(n)]
    )
    return tokenized.select(
        "key", F.array_distinct(F.transform(idx, shingle_at)).alias("shingles")
    )


def minhash_signatures_corpus(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 32,
    hash_basis: str = "xxhash64",
) -> DataFrame:
    """(key, signature) for the CORPUS-scale dedup path: word-n-gram
    MinHash without ever building shingle strings.

    Two measured bottlenecks in the string-shingle + JVM-affine spelling
    (76k-doc profile, 4 cores): building ~450 n-gram strings per document
    (~14 s) and the 32 interpreted affine transform/array_min passes
    (~36 s of 41 — higher-order functions run on the expression
    interpreter, ~33 ns per multiply-add-mod). Here the base hashes come
    straight from the token windows (``xxhash64(t1..tn)`` — one hash per
    window, zero string concat), and the affine family + min runs as
    numpy matrix math in ``mapInPandas`` (measured 4.1x faster than the
    JVM transforms, bit-identical signatures over the same bases — and
    the Arrow batch carries only (key, bases), never the text). The
    vectorized-Python trade is the same one the tag stage makes; like
    there, separate worker PROCESSES also sidestep the shared-JVM-heap
    allocation contention that caps all-HOF stages on 4 local cores.

    The affine family is canon.lsh.minhash_coeffs; candidates feed the
    exact-Jaccard verifier, which is what fixes the emitted pairs. Recall
    and the per-pair signature/Jaccard agreement are gated by the
    planted-near-dup tests. Identical text => identical signature;
    empty/null texts sign as all-zeros.

    ``hash_basis='portable'`` swaps the window hash for the cross-engine
    MD5 mixer (canon.lsh.portable_hash60) over the joined shingle STRING
    — slower (builds the shingle text and runs a full MD5 per window)
    but bit-reproducible in DuckDB SQL, which is what lets
    q_minhash_dup_pairs carry a full value-hash oracle. Everything
    downstream of the base hash (affine family, numpy min, banding,
    verify) is byte-identical code between the two bases.
    """
    from ..canon.lsh import MINHASH_P, minhash_coeffs, portable_hash60

    p = MINHASH_P
    coeffs = minhash_coeffs(num_hashes)
    a_vec = np.array([a for a, _ in coeffs], dtype=np.int64)
    c_vec = np.array([c for _, c in coeffs], dtype=np.int64)
    k = num_hashes

    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda t: t != F.lit("")
    )
    tokenized = docs.select(F.col(id_col).cast("string").alias("key"), toks.alias("tk"))
    tk = F.col("tk")
    idx = F.sequence(F.lit(0), F.greatest(F.size(tk) - shingle_n, F.lit(0)))
    if hash_basis == "portable":
        window_hash = lambda i: F.pmod(  # noqa: E731
            portable_hash60(
                F.concat_ws(
                    " ",
                    *[F.try_element_at(tk, i + j + 1) for j in range(shingle_n)],
                )
            ),
            F.lit(p),
        )
    elif hash_basis == "xxhash64":
        window_hash = lambda i: F.pmod(  # noqa: E731
            F.xxhash64(*[F.try_element_at(tk, i + j + 1) for j in range(shingle_n)]),
            F.lit(p),
        )
    else:
        raise ValueError(f"unknown hash_basis {hash_basis!r}")
    based = tokenized.select(
        "key",
        F.when(F.size(tk) == 0, F.array().cast("array<long>"))
        .otherwise(F.transform(idx, window_hash))
        .alias("bases"),
    )

    def sig_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            sigs = []
            for b in pdf["bases"]:
                base = np.asarray(b, dtype=np.int64)
                if base.size == 0:
                    sigs.append(np.zeros(k, dtype=np.int64))
                else:
                    sigs.append(
                        ((base[:, None] * a_vec[None, :] + c_vec[None, :]) % p).min(
                            axis=0
                        )
                    )
            yield pd.DataFrame({"key": pdf["key"], "signature": sigs})

    return based.mapInPandas(sig_batches, "key string, signature array<long>")


def minhash_dup_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
    hash_basis: str = "xxhash64",
) -> DataFrame:
    """MinHash+LSH near-dup pairs verified by exact shingle Jaccard:
    (key_a, key_b, jaccard). Shuffles: band bucket join + the verify join.

    Corpus-pass budget: ONE narrow pass computes signatures straight from
    token windows (minhash_signatures_corpus — no shingle strings are ever
    built or stored for the full corpus); exact-Jaccard verification
    re-shingles only the documents that appear in a candidate pair
    (semi-join on the candidate keys), which is the near-dup mass, not
    the corpus. The previous shape localCheckpointed full-corpus shingles
    and joined candidates against them — storing and probing a frame 3x
    the corpus size to verify a handful of pairs."""
    kt = docs.select(
        F.col(id_col).cast("string").alias("key"), F.col(text_col).alias("__text__")
    ).localCheckpoint()
    sigs = minhash_signatures_corpus(
        kt,
        "key",
        "__text__",
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        hash_basis=hash_basis,
    ).localCheckpoint()
    cands = lsh_candidate_pairs(
        sigs,
        bands=bands,
        rows_per_band=num_hashes // bands,
        band_hash="portable" if hash_basis == "portable" else "xxhash64",
    ).localCheckpoint()
    cand_keys = (
        cands.select(F.col("key_a").alias("key"))
        .union(cands.select(F.col("key_b").alias("key")))
        .distinct()
    )
    sh_cand = word_shingles(
        kt.join(cand_keys, "key", "left_semi"), "key", "__text__", shingle_n
    )
    return verify_jaccard(cands, sh_cand, jaccard_threshold)


def verify_jaccard(pairs: DataFrame, keyed_sets: DataFrame, threshold: float) -> DataFrame:
    """pairs(key_a, key_b) x keyed_sets(key, shingles) -> exact Jaccard,
    JVM-side via array_intersect/array_union on the candidate pairs only."""
    a = keyed_sets.select(F.col("key").alias("key_a"), F.col("shingles").alias("sh_a"))
    b = keyed_sets.select(F.col("key").alias("key_b"), F.col("shingles").alias("sh_b"))
    return (
        pairs.join(a, "key_a")
        .join(b, "key_b")
        .select(
            "key_a",
            "key_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    candidate_pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact n-gram Jaccard for externally supplied candidate pairs."""
    sh = word_shingles(docs, id_col, text_col, n)
    return verify_jaccard(candidate_pairs, sh, threshold)


# -- simhash --------------------------------------------------------------
_SIMHASH_SCHEMA = StructType(
    [StructField("key", StringType(), False), StructField("simhash", LongType(), False)]
)


def simhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_basis: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash over word tokens. Near-identical documents differ in
    a handful of bits.

    Token hashing happens JVM-side (``xxhash64`` inside ``transform`` —
    whole-stage codegen); only the 64-way bit-voting runs in Python, numpy-
    vectorized over the pre-hashed int64 arrays. The original version hashed
    every token byte-by-byte in Python, which dominated the stage.

    ``hash_basis='portable'`` swaps the token hash for the cross-engine
    MD5 mixer (canon.lsh.portable_hash64 — same 64-bit pattern DuckDB
    computes unsigned), making the whole signature, the chunk blocking
    and the hamming verify SQL-twinnable; the voting numpy code is
    shared byte-for-byte between bases."""
    # coalesce: null text -> empty token array (split(null) is null and
    # np.asarray(None) would crash the Python worker)
    toks = F.coalesce(
        F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != F.lit("")),
        F.array().cast("array<string>"),
    )
    if hash_basis == "portable":
        # ONE MD5 per token: portable_hash64 references its argument's
        # digest twice (hi and lo slice) and HOFs perform no CSE, so
        # calling it directly inside the token lambda would run the full
        # MD5 twice per token. Project the digest array first, then pack
        # the two 32-bit slices from each (cheap substring/conv) hex
        # string — identical values, half the hashing.
        md = docs.select(
            F.col(id_col).cast("string").alias("key"),
            F.transform(toks, lambda t: F.md5(t)).alias("__md5__"),
        )
        pack = lambda m: F.shiftleft(  # noqa: E731
            F.conv(F.substring(m, 1, 8), 16, 10).cast("long"), 32
        ).bitwiseOR(F.conv(F.substring(m, 9, 8), 16, 10).cast("long"))
        hashed = md.select(
            "key", F.transform(F.col("__md5__"), pack).alias("th")
        )
    elif hash_basis == "xxhash64":
        hashed = docs.select(
            F.col(id_col).cast("string").alias("key"),
            F.transform(toks, lambda t: F.xxhash64(t)).alias("th"),
        )
    else:
        raise ValueError(f"unknown hash_basis {hash_basis!r}")

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bit_idx = np.arange(64, dtype=np.uint64)
        pow2 = (np.uint64(1) << bit_idx).astype(np.uint64)
        for pdf in batches:
            keys, sigs = [], []
            for key, th in zip(pdf["key"], pdf["th"]):
                th = np.asarray(th, dtype=np.int64).view(np.uint64)
                if th.size == 0:
                    keys.append(key)
                    sigs.append(0)
                    continue
                bits = ((th[:, None] >> bit_idx[None, :]) & np.uint64(1)).astype(np.int64)
                acc = (2 * bits - 1).sum(axis=0)  # +1/-1 votes per bit
                sig = pow2[acc > 0].sum(dtype=np.uint64)
                keys.append(key)
                sigs.append(int(sig.astype(np.int64)))
            yield pd.DataFrame({"key": keys, "simhash": sigs})

    return hashed.mapInPandas(compute, _SIMHASH_SCHEMA)


def simhash_dup_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    hash_basis: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming.

    Blocking: split the 64-bit signature into ``max_hamming + 1`` chunks;
    any pair within distance ``max_hamming`` shares at least one identical
    chunk (pigeonhole — a differing bit can spoil at most one chunk), so a
    bucket-join on (chunk_idx, chunk_value) finds ALL of them with one
    shuffle — never an all-pairs comparison. The blocking recall is exact;
    the selectivity trade-off is real: larger ``max_hamming`` means more,
    narrower chunks (64/(k+1) bits), so buckets coarsen and candidate
    volume grows — at corpus scale keep ``max_hamming`` <= 7 (8-bit
    chunks) and rely on the exact hamming verify to trim.
    """
    n_chunks = max_hamming + 1
    if n_chunks > 32:
        raise ValueError("max_hamming > 31 leaves <2-bit chunks; use MinHash instead")
    # even-ish split of the 64 bits: chunk i covers [start_i, start_{i+1})
    starts = [round(64 * i / n_chunks) for i in range(n_chunks + 1)]
    sigs = simhash_signatures(
        docs, id_col, text_col, hash_basis=hash_basis
    ).localCheckpoint()
    chunk_cols = []
    for i in range(n_chunks):
        width = starts[i + 1] - starts[i]
        mask = (1 << width) - 1
        chunk_cols.append(
            F.shiftrightunsigned(F.col("simhash"), starts[i]).bitwiseAND(F.lit(mask))
        )
    chunks = sigs.select(
        "key",
        "simhash",
        F.posexplode(F.array(*chunk_cols)).alias("chunk_idx", "chunk_val"),
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.key") < F.col("b.key")),
        )
        .select(
            F.col("a.key").alias("key_a"),
            F.col("b.key").alias("key_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return pairs.select("key_a", "key_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


# ----------------------------------------------------------------------
# repeated-span removal (C4 / RefinedWeb-style sub-document dedup)
# ----------------------------------------------------------------------


def remove_repeated_spans(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    mode: str = "token_windows",
    window: int = 16,
    min_repeats: int = 2,
) -> DataFrame:
    """Sub-document dedup: drop SPANS that repeat across the corpus and
    rebuild each document from its surviving spans — the C4 rule
    ("discard any three-sentence span occurring more than once",
    Raffel et al. 2020 §2.2) / RefinedWeb line-dedup, generalized to two
    span definitions:

    - ``mode='lines'``: spans are newline-delimited lines;
    - ``mode='token_windows'``: spans are non-overlapping ``window``-token
      chunks (the spelling for flat token-stream corpora — chunks tile
      the document, so reconstruction is unambiguous).

    Scale design: spans explode in-partition; the frequency count
    shuffles ONLY xxhash64(span) (the span text never shuffles for
    counting — the contamination-screen trick); the repeated-span set is
    boilerplate-bounded and joins back as a BROADCAST anti-join; the one
    corpus-scale shuffle is the per-document reconstruction aggregation,
    ordered by span index (explicit total order). Tokens in
    ``token_windows`` mode are UNICODE letter/digit runs (``\\p{L}\\p{N}``)
    — the rebuild is lossy (lowercased, punctuation dropped) but keeps
    accented and non-Latin text instead of deleting it (the earlier
    ``[a-z0-9']`` spelling reduced every CJK/Cyrillic document to empty
    text and corrupted accented words). EVERY input document
    appears in the output: docs whose every span is boilerplate survive
    with empty text, and docs that yield no qualifying spans at all
    (all-blank/empty text) survive
    with empty text and zero counts via an explode_outer sentinel row —
    dropping them here would silently delete them from any pipeline that
    joins on the result (curate's span stage does exactly that).

    Returns (doc, clean_text, n_spans, n_removed).
    """
    # The generator child must stay CHEAP: exploding an array EXPRESSION
    # whose elements are expensive to build (the original spelling built
    # every chunk string inside a nested transform and posexploded that)
    # re-evaluates the child per OUTPUT row — measured 62.7 s vs 5.2 s at
    # 30k docs for identical results. So the explode emits only the span
    # INDEX (an int sequence) and each span string is computed once per
    # output row from the carried token/line array.
    #
    # Bytes-per-row (r5, the link-stage lesson): the exploded span stream
    # carries ONLY (doc, idx, h) — the span TEXT never enters the h-join
    # or the per-doc flag aggregation; both those exchanges move three
    # ints per span. The previous shape shuffled the span strings through
    # BOTH wide steps (join by h, then reconstruction groupBy doc) — two
    # full corpus-text shuffle passes. Now the single text-mass exchange
    # is the final base⋈flags join, and clean_text is rebuilt IN-ARRAY
    # from the carried token/line array and the kept-index list.
    if mode == "lines":
        # blank lines are dropped HERE (inside the carrier array) so that
        # "no qualifying spans" and "empty array" are the same condition —
        # the explode_outer sentinel below then covers both.
        base = docs.select(
            F.col(id_col).alias("doc"),
            F.filter(
                F.split(F.col(text_col), "\n"),
                lambda x: F.length(F.trim(x)) > 0,
            ).alias("_arr"),
        )
        carrier = "_arr"
        n_spans_expr = F.size("_arr")
        span_at = lambda i: F.get(F.col("_arr"), i)  # noqa: E731
    elif mode == "token_windows":
        w = window
        base = docs.select(
            F.col(id_col).alias("doc"),
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(r"[\p{L}\p{N}']+"), 0
            ).alias("_tk"),
        )
        carrier = "_tk"
        n_spans_expr = F.ceil(F.size("_tk") / F.lit(w)).cast("int")
        span_at = lambda i: F.concat_ws(  # noqa: E731
            " ", F.slice(F.col("_tk"), i * w + 1, w)
        )
    else:
        raise ValueError(f"unknown mode {mode!r}")
    # guard: sequence(0, -1) would DESCEND ([0, -1]) for empty docs
    seq = F.when(F.size(carrier) == 0, F.array().cast("array<int>")).otherwise(
        F.sequence(F.lit(0), n_spans_expr.cast("int") - 1)
    )
    # explode_OUTER: a doc with zero qualifying spans (all-blank in lines
    # mode, empty or letterless text in token_windows mode) emits ONE
    # sentinel row with idx=null instead of vanishing from the groupBy —
    # every input doc appears in the output (clean_text='', counts 0).
    # The span string is hashed HERE, in-partition, and immediately
    # dropped: only (doc, idx, h) flows into the wide steps.
    spans_h = base.select("doc", carrier, F.explode_outer(seq).alias("idx")).select(
        "doc",
        "idx",
        F.when(
            F.col("idx").isNotNull(),
            F.xxhash64(F.trim(span_at(F.col("idx")))),
        ).alias("h"),
    )
    rep = (
        spans_h.select("h")
        .filter(F.col("h").isNotNull())
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= F.lit(int(min_repeats)))
        .select("h")
    )
    # Flag + per-doc flag aggregation over the INT span stream: a LEFT
    # join marks repeated spans, then one groupBy collects the kept span
    # indices and both counts. No forced broadcast on the join: the
    # repeated-span table is CORPUS-proportional at crawl scale (shared
    # boilerplate across a 10^12-doc crawl is billions of distinct spans)
    # — AQE broadcasts it at runtime when it is actually small, and the
    # join degrades to a hash shuffle (correct, bounded — and now a
    # shuffle of ints, not span text) when it is not.
    flagged = spans_h.join(rep.withColumn("_rep", F.lit(True)), "h", "left")
    kept = F.col("_rep").isNull() & F.col("idx").isNotNull()
    flags = flagged.groupBy("doc").agg(
        # collect_list skips nulls -> exactly the kept real spans
        F.sort_array(F.collect_list(F.when(kept, F.col("idx")))).alias("_keep"),
        F.count("idx").alias("n_spans"),  # count() skips the null sentinel
        F.sum(F.when(F.col("_rep").isNotNull(), 1).otherwise(0)).alias("n_removed"),
        # duplicate-id sentinel: a single doc's indices are EXACTLY
        # 0..n-1, so count(idx) == max(idx)+1; merged duplicates break
        # the identity for any size combination (n+m > max(n,m) when
        # both >0). MAX, not count_distinct — a distinct aggregate
        # plants an Expand that doubles every row through this
        # corpus-scale aggregation (measured +20% on the span stage).
        F.max(F.col("idx")).alias("_maxidx"),
        # ...except when one copy has ZERO spans: its sentinel row adds
        # nothing to count(idx) or max(idx). Each doc contributes exactly
        # greatest(n, 1) rows, so a row count above that exposes it.
        F.count(F.lit(1)).alias("_nrows"),
    )
    # Reconstruction: rebuild each document from its carried token/line
    # array and the kept-index list — the one exchange that moves text.
    # Duplicate doc ids would fan the MERGED keep-list back out to each
    # duplicate's own (differently-sized) carrier and silently corrupt
    # clean_text — fail loudly instead (the round-4 rid lesson: assumed-
    # unique ids do occur in real inputs).
    dup_guarded_keep = F.when(
        (F.col("n_spans") == F.coalesce(F.col("_maxidx") + 1, F.lit(0)))
        & (F.col("_nrows") == F.greatest(F.col("n_spans"), F.lit(1))),
        F.col("_keep"),
    ).otherwise(
        F.raise_error(
            F.lit(
                "remove_repeated_spans: duplicate values in the id column "
                "(doc ids must be unique; deduplicate or disambiguate "
                "ids upstream)"
            )
        ).cast("array<int>")
    )
    return base.join(flags, "doc").select(
        "doc",
        F.concat_ws(
            " " if mode == "token_windows" else "\n",
            F.transform(dup_guarded_keep, span_at),
        ).alias("clean_text"),
        F.col("n_spans").cast("bigint").alias("n_spans"),
        F.col("n_removed").cast("bigint").alias("n_removed"),
    )
