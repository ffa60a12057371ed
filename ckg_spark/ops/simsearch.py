"""Similarity search over embedding columns (array<float>).

Two paths:

- ``brute_force_topk``: exact cosine top-k against a query vector.
  The dot product stays JVM-side (``F.zip_with`` + ``F.aggregate`` over the
  array column — whole-stage codegen, no Python); top-k is
  ``orderBy(...).limit(k)``, which Spark executes as a per-partition
  TakeOrdered + driver merge, i.e. no full sort shuffle.
- ``ivf_topk`` / ``ivf_topk_pruned``: IVF-style two-stage ANN. A
  deterministic coarse quantizer (centroids averaged from a seeded
  Bernoulli sample) assigns every vector to a cell in one shuffle-free
  ``mapInPandas`` pass; ``write_cell_partitioned`` materializes the index
  as cell-partitioned parquet and ``ivf_topk_pruned`` probes only the
  ``nprobe`` nearest cells via partition pruning at the scan — at 100 TB
  a probe reads ~nprobe/ncells of the files instead of everything.
- ``cosine_self_pairs``: near-duplicate vectors (cosine >= threshold),
  blocked on a coarse cell so the pairwise work is per-bucket.

Scores are rounded to 6 dp at the boundary so results are reproducible
across float32/float64 evaluation orders.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType, IntegerType, IntegralType, StructField, StructType


def _cosine_col(vec_col, query: list[float]):
    """JVM-side cosine similarity between an array<float> column and a
    literal query vector (zip_with product + aggregate sum + norms).
    Zero-norm convention: cosine with an all-zero vector (or query) is
    0.0 — the unguarded division would throw DIVIDE_BY_ZERO under this
    session's ANSI config on the first padding/empty-doc embedding (the
    driver-side twin _probe_cells guards the same way)."""
    q = F.array(*[F.lit(float(x)) for x in query])
    dot = F.aggregate(
        F.zip_with(vec_col, q, lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm_v = F.sqrt(
        F.aggregate(vec_col, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x)
    )
    qn = float(np.sqrt(np.dot(query, query)))
    denom = norm_v * F.lit(qn)
    return F.when(denom > 0, dot / denom).otherwise(F.lit(0.0))


def brute_force_topk(
    embeddings: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (id, cosine) ordered desc, ties by id."""
    cos = F.round(_cosine_col(F.col(vec_col), query), 6).alias("cosine")
    return (
        embeddings.select(F.col(id_col), cos)
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def _normalized(centroids: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(centroids, axis=1)
    norms[norms == 0] = 1.0
    return centroids / norms[:, None]


def assign_cells(
    embeddings: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 13,
    sample_per_cell: int = 8,
) -> tuple[DataFrame, np.ndarray]:
    """IVF coarse quantizer with a ZERO-shuffle plan.

    - Centroid seeding: an id-keyed split_u Bernoulli predicate — a
      narrow map like ``sample()`` but DETERMINISTIC under any
      repartitioning/re-ingestion (Spark's seeded sample draws per
      partition, so the seeded set changes with the file layout — the
      exact hazard split_u exists for) AND cross-engine reproducible,
      which is what gives q_ivf_topk a full DuckDB twin. The sampled
      rows (dimension-sized) collect to the driver and average into
      per-cell centroids; a ``row_number`` Window would instead shuffle
      the FULL table into ``n_cells`` hot partitions to pick ~100 rows.
    - Centroids round to 6 dp (the repo-wide float-twin convention) so
      the assignment consumes values both engines agree on bit-for-bit.
    - Assignment: ONE ``mapInPandas`` pass that carries every input column
      through and appends ``cell`` — no second join shuffling the vector
      payloads against a same-cardinality assignment frame. The argmax
      runs on ROUND(sim, 9) with lowest-cell tie-break — engine float
      noise (~1e-16, BLAS vs sequential summation) cannot flip a
      discontinuous selector through a 9-dp shield (the permutation-FDR
      precedent).

    Returns (embeddings + ``cell`` column, rounded centroids ndarray).
    The plan contains no Exchange (asserted in tests/test_plans.py)."""
    from ..canon.lsh import portable_hash60
    from .curation import split_u

    total = embeddings.count()  # parquet metadata count — no data scan
    target = n_cells * sample_per_cell * 4
    fraction = min(1.0, float(target) / max(total, 1))
    # pmod-first keeps the mixed operand < 2^32 so the *131 stays inside
    # signed-long range for ANY id magnitude (ANSI multiply throws).
    # Only ids that cast to long exactly take the cast: integral types and
    # decimal(p,0) with p <= 18. Every other id (strings/UUIDs, fractional
    # decimals whose cast would truncate 1.2 and 1.4 to one seed, wide
    # decimals that overflow a long under ANSI) routes through the
    # portable MD5 hash of its string form; the mixer stays cross-engine
    # (portable_hash60 has a DuckDB twin), so a future oracle for such
    # keys remains constructible.
    id_type = embeddings.schema[id_col].dataType
    long_id = isinstance(id_type, IntegralType) or (
        isinstance(id_type, DecimalType) and id_type.scale == 0 and id_type.precision <= 18
    )
    raw_id = (
        F.col(id_col).cast("long")
        if long_id
        else portable_hash60(F.col(id_col).cast("string"))
    )
    idm = F.pmod(raw_id, F.lit(4294967296))
    sampled = (
        embeddings.select(id_col, vec_col)
        .withColumn(
            "cell0",
            F.least(
                F.floor(split_u(idm * 131 + F.lit(seed)) * n_cells),
                F.lit(n_cells - 1),
            ).cast("int"),
        )
        .filter(split_u(idm * 137 + F.lit(seed + 1)) < F.lit(fraction))
        .collect()
    )
    by_cell: dict[int, list[np.ndarray]] = {}
    for r in sampled:
        by_cell.setdefault(r["cell0"], []).append(np.asarray(r[vec_col], dtype=np.float64))
    dim = len(sampled[0][vec_col]) if sampled else 1
    centroids = np.stack(
        [
            np.mean(by_cell[c], axis=0) if c in by_cell else np.zeros(dim)
            for c in range(n_cells)
        ]
    ).round(6)
    cn = _normalized(centroids)
    out_schema = StructType(
        list(embeddings.schema.fields) + [StructField("cell", IntegerType(), False)]
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                pdf = pdf.copy()
                pdf["cell"] = pd.Series([], dtype="int32")
                yield pdf
                continue
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            vn = np.linalg.norm(mat, axis=1)
            vn[vn == 0] = 1.0
            sims = ((mat / vn[:, None]) @ cn.T).round(9)
            pdf = pdf.copy()
            pdf["cell"] = sims.argmax(axis=1).astype("int32")  # first max
            yield pdf

    return embeddings.mapInPandas(assign, out_schema), centroids


def _probe_cells(centroids: np.ndarray, query: list[float], nprobe: int) -> list[int]:
    """The nprobe cells nearest the query (by centroid cosine; ROUND(9)
    + lowest-cell tie-break, mirroring the assignment shield)."""
    q = np.asarray(query, dtype=np.float64)
    qn = q / (np.linalg.norm(q) or 1.0)
    sims = (_normalized(centroids) @ qn).round(9)
    order = sorted(range(len(centroids)), key=lambda c: (-sims[c], c))
    return sorted(order[:nprobe])


def ivf_topk(
    embeddings_with_cells: DataFrame,
    centroids: np.ndarray,
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe the nprobe nearest cells only, then exact cosine within them.
    Operates on any cell-assigned frame; over the storage that
    :func:`write_cell_partitioned` lays out, the cell filter prunes the
    scan (:func:`ivf_topk_pruned`)."""
    probe = _probe_cells(centroids, query, nprobe)
    pruned = embeddings_with_cells.filter(F.col("cell").isin(probe))
    return brute_force_topk(pruned, query, k=k, id_col=id_col, vec_col=vec_col)


def write_cell_partitioned(embeddings_with_cells: DataFrame, path: str) -> None:
    """Materialize the IVF index as cell-partitioned parquet. This is what
    turns nprobe/ncells into a real scan saving: a probe reads nprobe/ncells
    of the files via partition pruning instead of filtering a full scan."""
    embeddings_with_cells.write.mode("overwrite").partitionBy("cell").parquet(path)


def ivf_topk_pruned(
    spark,
    index_path: str,
    centroids: np.ndarray,
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe against cell-partitioned storage — the ``cell IN (...)``
    filter reaches the scan as a PartitionFilter (plan-asserted in
    tests/test_plans.py), so only the probed cells' files are read."""
    return ivf_topk(
        spark.read.parquet(index_path), centroids, query,
        k=k, nprobe=nprobe, id_col=id_col, vec_col=vec_col,
    )


def cosine_self_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    block_col: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate vector pairs (cosine >= threshold), blocked.

    If block_col is None an IVF cell assignment is used as the block —
    self-pairing within a cell misses cross-cell near-dups near boundaries
    (standard ANN recall trade-off; raise n_cells/nprobe to tune).
    """
    src = embeddings
    if block_col is None:
        src, _ = assign_cells(embeddings)
        block_col = "cell"
    a = src.select(
        F.col(block_col).alias("blk_a"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
    )
    b = src.select(
        F.col(block_col).alias("blk_b"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )
    denom = norm(F.col("va")) * norm(F.col("vb"))
    return (
        a.join(b, (F.col("blk_a") == F.col("blk_b")) & (F.col("id_a") < F.col("id_b")))
        .select(
            "id_a",
            "id_b",
            # zero-norm pairs score 0.0 (ANSI: the raw division throws)
            F.round(
                F.when(denom > 0, dot / denom).otherwise(F.lit(0.0)), 6
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# ----------------------------------------------------------------------
# SRP-LSH: signed-random-projection (random-hyperplane) cosine LSH
# ----------------------------------------------------------------------

def _lowbias32(x: int) -> int:
    """Public-domain lowbias32 integer mix (same constants as
    ops/curation.py::split_u) — engine- and version-independent
    determinism for the hyperplane signs."""
    x &= 0xFFFFFFFF
    x = (((x >> 16) ^ x) * 0x45D9F3B) & 0xFFFFFFFF
    x = (((x >> 16) ^ x) * 0x45D9F3B) & 0xFFFFFFFF
    return (x >> 16) ^ x


def _srp_signs(n_planes: int, dim: int, seed: int) -> list[list[float]]:
    """Deterministic Rademacher (+-1) hyperplanes, one per plane: sign of
    hash(seed, plane, dim). Dimension-sized (n_planes x dim floats) —
    embedded as literal arrays, never shuffled."""
    return [
        [
            1.0 if _lowbias32(seed * 0x9E3779B1 + j * dim + d) & 1 else -1.0
            for d in range(dim)
        ]
        for j in range(n_planes)
    ]


def srp_bands(
    embeddings: DataFrame,
    n_planes: int = 32,
    bands: int = 4,
    seed: int = 29,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SRP-LSH banding: (id, band_id, band_val), one row per band.

    bit_j = sign(v . h_j) for ``n_planes`` deterministic Rademacher
    hyperplanes (P[bit match] = 1 - angle/pi, Charikar 2002); bits pack
    into ``bands`` integer band values (r = n_planes/bands bits each).
    Near-dup candidates = band-value collisions, exactly like the
    MinHash banding in ops/dedup.py — never all-pairs. All projections
    are JVM ``zip_with``/``aggregate`` folds over literal sign arrays
    (whole-stage codegen, no Python, no shuffle); the only shuffle in a
    downstream pair-join is on the (band_id, band_val) key, and the
    band rows carry IDS ONLY — vector payloads never enter the shuffle."""
    assert n_planes % bands == 0, "n_planes must divide evenly into bands"
    r = n_planes // bands
    # dimension probe: one narrow limit-1 job. An EMPTY frame (a corpus
    # partition with no embeddings yet) returns zero band rows instead of
    # crashing on first()[0]; a null first vector is rejected loudly.
    probe = embeddings.select(F.col(vec_col).alias("__v__")).head(1)
    if not probe:
        id_type = dict(embeddings.dtypes)[id_col]
        return embeddings.sparkSession.createDataFrame(
            [], f"{id_col} {id_type}, band_id int, band_val int"
        )
    if probe[0]["__v__"] is None:
        raise ValueError(f"{vec_col!r} of the first row is NULL — cannot infer dim")
    dim = len(probe[0]["__v__"])
    signs = _srp_signs(n_planes, dim, seed)
    v = F.col("__v__")
    projected = embeddings.select(F.col(id_col), F.col(vec_col).alias("__v__"))
    bits = []
    for j in range(n_planes):
        plane = F.array(*[F.lit(s) for s in signs[j]])
        dot = F.aggregate(
            F.zip_with(v, plane, lambda a, b: a.cast("double") * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(dot >= 0, F.lit(1 << (j % r))).otherwise(F.lit(0)))
    band_structs = []
    for b in range(bands):
        band_val = bits[b * r]
        for j in range(b * r + 1, (b + 1) * r):
            band_val = band_val + bits[j]
        band_structs.append(
            F.struct(F.lit(b).alias("band_id"), band_val.alias("band_val"))
        )
    return projected.select(
        id_col, F.explode(F.array(*band_structs)).alias("__b__")
    ).select(
        id_col,
        F.col("__b__.band_id").alias("band_id"),
        F.col("__b__.band_val").alias("band_val"),
    )


def srp_self_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 32,
    bands: int = 4,
    seed: int = 29,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate vector pairs via SRP-LSH candidates + exact cosine
    verification: (id_a, id_b, cosine) with cosine >= threshold.

    Complements :func:`cosine_self_pairs` (IVF-cell blocking): random-
    hyperplane bands are data-independent — no centroid seeding pass, no
    cell-boundary misses for collinear vectors; at threshold 0.99 the
    default 4x8-bit bands catch a pair with P >= 0.997. Candidates are
    deduped on (id_a, id_b) BEFORE the vectors attach, so the exact-
    verify join ships each candidate's two vectors once."""
    b = srp_bands(
        embeddings, n_planes=n_planes, bands=bands, seed=seed,
        id_col=id_col, vec_col=vec_col,
    )
    left = b.select("band_id", "band_val", F.col(id_col).alias("id_a"))
    right = b.select("band_id", "band_val", F.col(id_col).alias("id_b"))
    cand = (
        left.join(right, ["band_id", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    va = embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )
    denom = norm(F.col("va")) * norm(F.col("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            # zero-norm pairs score 0.0 (ANSI: the raw division throws)
            F.round(
                F.when(denom > 0, dot / denom).otherwise(F.lit(0.0)), 6
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
