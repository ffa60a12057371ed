"""Training-data curation ops: deterministic sampling / splitting,
sequence packing, and benchmark-contamination screening.

These are engine extras beyond the reference (which curates experiment
matrices, not LLM corpora) — the operations a large-scale training-data
pipeline runs between dedup (ops/dedup.py) and export:

- :func:`split_u` — a deterministic per-id uniform in [0, 1) from the
  public-domain lowbias32 integer mix (xor-shift-multiply, two rounds).
  Pure int64 arithmetic, so Spark and DuckDB compute IDENTICAL values —
  sampling, splits and holdout membership are value-hash-verifiable,
  and assignment is stable under repartitioning/reruns (seeded
  ``sample()`` is not: it changes with partitioning). ``split_u_sql``
  renders the same graph as SQL text.
- stratified sampling / train-val-test splitting: pure map-side
  predicates on split_u — zero shuffles beyond the final aggregation.
- :func:`pack_greedy` — contiguous sequence packing: per stratum, docs
  in id order accumulate into buckets of ~``budget`` tokens (a doc
  joins the bucket its PREDECESSOR sum falls in, so each bucket holds
  at most budget + one document of tokens — the deterministic,
  window-expressible form of first-fit packing). One window pass per
  stratum; at scale, strata are the partition axis. A single giant
  stratum serializes its window — sub-split it on a split_u range first.
- contamination screen: exact n-gram overlap between the training
  corpus and a holdout/benchmark set (the decontamination step of
  LLM-corpus pipelines), as an n-gram equi-join — blocked by shingle
  exactly like the dedup family, never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_MIX = 0x45D9F3B  # lowbias32 multiplier (public-domain constant)
_M32 = 4294967296


def split_u(id_col: Column) -> Column:
    """Deterministic uniform [0, 1) per integer id — lowbias32 mix.
    pmod (not %) so NEGATIVE ids (signed string-key hashes) land in
    [0, 2^32) too — plain % keeps the dividend's sign on both engines
    and would push every negative id to u < 0 (i.e. always 'train')."""
    h = F.pmod(id_col.cast("long"), F.lit(_M32))
    for _ in range(2):
        h = F.pmod(F.shiftright(h, 16).bitwiseXOR(h) * F.lit(_MIX), F.lit(_M32))
    h = F.shiftright(h, 16).bitwiseXOR(h)
    return h.cast("double") / F.lit(float(_M32))


def split_u_sql(id_expr: str) -> str:
    """The identical mix as DuckDB SQL text (xor()/>> on BIGINT);
    positive modulus via ((x % m) + m) % m — DuckDB's % is also
    sign-preserving."""

    def pmod(x: str) -> str:
        return f"((({x} % {_M32}) + {_M32}) % {_M32})"

    h = pmod(f"({id_expr})")
    for _ in range(2):
        h = pmod(f"(xor({h} >> 16, {h}) * {_MIX})")
    h = f"xor({h} >> 16, {h})"
    return f"(CAST({h} AS DOUBLE) / {_M32}.0)"


def assign_split(
    id_col: Column, train: float = 0.8, val: float = 0.9
) -> Column:
    """'train' / 'val' / 'test' by split_u thresholds (stable under
    repartitioning and re-ingestion — membership is a function of the id)."""
    u = split_u(id_col)
    return (
        F.when(u < train, F.lit("train"))
        .when(u < val, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def pack_greedy(
    df: DataFrame,
    stratum_col: str,
    order_col: str,
    tokens_col: str,
    budget: int,
) -> DataFrame:
    """Assign each row a packing bucket: per stratum, rows in order_col
    order; bucket = floor(preceding-cumulative-tokens / budget). Adds a
    ``bucket`` column (bigint)."""
    w = (
        Window.partitionBy(stratum_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(tokens_col).over(w)
    bucket = F.floor((cum - F.col(tokens_col)) / F.lit(float(budget)))
    return df.withColumn("bucket", bucket.cast("bigint"))


def ngram_overlap_split(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    is_eval: Column,
    n: int = 8,
) -> DataFrame:
    """(left_id, right_id, n_shared) — (train, eval) doc pairs sharing at
    least one FULL word n-gram, with the distinct shared-ngram count.
    Tokenize+shingle once, then a broadcast hash join on the shingle:
    decontamination is ASYMMETRIC — the eval/holdout side is a fixed
    benchmark suite, dimension-sized relative to a 100 TB training
    corpus — so the eval (shingle, doc) pairs broadcast and the train
    side never shuffles its shingles at all: one map-side hash join,
    then one pair-sized aggregation. The corpus scans twice (cheap,
    columnar) instead of shuffling once (expensive).

    The shingle key is ``xxhash64`` of the TOKEN SLICE, not the joined
    n-gram string: the ~50-byte-per-shingle text never exists at all (no
    concat, no string distinct) and the eval distinct, the broadcast and
    the join carry 8-byte longs (when shingles were still shuffled, this
    key took the screen from 24 s to single digits at sf0.1). Equality on
    the hash equals equality on the n-gram modulo 64-bit collisions
    (~1e-6 at 10^8 distinct shingles — far below the screen's own
    n-gram-coincidence noise; the DuckDB oracle joins the exact strings,
    so the hash gate would flag a collision if one ever mattered)."""
    from .textstats import tokens_col

    # tokens projected into a real column FIRST: the transform lambda
    # below references them per element, and a computed expression there
    # re-evaluates per element (the HOF-CSE trap in CLAUDE.md)
    tk = docs.select(
        F.col(id_col).cast("long").alias("id"),
        is_eval.alias("ev"),
        tokens_col(F.col(text_col)).alias("tk"),
    )
    toks = F.col("tk")
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    hashed = F.when(
        F.size(toks) >= n,
        F.array_distinct(F.transform(idx, lambda i: F.xxhash64(F.slice(toks, i, n)))),
    ).otherwise(F.array().cast("array<long>"))
    ex = tk.select("id", "ev", F.explode(hashed).alias("s"))
    ev_sh = (
        ex.filter(F.col("ev"))
        .select("s", F.col("id").alias("right_id"))
        .distinct()
    )
    pairs = (
        ex.filter(~F.col("ev"))
        .join(F.broadcast(ev_sh), "s")
        .select(F.col("id").alias("left_id"), "right_id")
    )
    return pairs.groupBy("left_id", "right_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shared")
    )


def ngram_overlap_pairs(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """Two-frame wrapper over :func:`ngram_overlap_split` (tags each side
    and unions — prefer the split variant when both sides filter one
    base table)."""
    tagged = left.select(
        F.col(id_col), F.col(text_col), F.lit(False).alias("__ev__")
    ).unionByName(
        right.select(F.col(id_col), F.col(text_col), F.lit(True).alias("__ev__"))
    )
    return ngram_overlap_split(tagged, id_col, text_col, F.col("__ev__"), n=n)
