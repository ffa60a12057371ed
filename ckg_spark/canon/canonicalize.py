"""Aliased-entity canonicalization: exact alias-join pairs -> connected components.

Semantics (shared with the single-process oracle, ckg_spark/oracle.py):
two terms A, B merge iff

    A.entity_type == B.entity_type  AND
    ( normalize(A.name) in aliasNorms(B)  OR  normalize(B.name) in aliasNorms(A) )

where aliasNorms(t) = { normalize(s) for s in {t.name} + t.synonyms }.

This is the Spark-scale generalization of the reference's exact alias
dictionaries (/root/reference src/graphdb_connector/mapping.py:85-142):
casing/punctuation/token-order variants of a term's preferred name are
merged into one canonical node; a *synonym* shared by two otherwise
unrelated terms (multi-mapping, mapping.py:115-142) stays a fan-out, NOT a
merge — which is why the predicate is anchored on the preferred name.

One candidate generator: an equi-join of every term's normalized name
against the normalized alias set (``merge_pairs``) — exactly the predicate
above, so no candidate is ever filtered afterwards. Components come from
one union-find (``cc.union_find``) on the driver, or from the iterative
DataFrame CC when the pair list is too large to collect.

Cluster representative = min(term id): deterministic canonical node ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cc import connected_components, union_find
from .normalize import with_normalized


def _alias_norms(terms: DataFrame) -> DataFrame:
    """(id, entity_type, norm) for every surface (name + synonyms).
    NULL synonyms arrays coalesce to empty: concat is null-intolerant,
    so without the guard such a term would lose its NAME surface too and
    the distributed path would miss merges the driver path
    (_driver_merge_pairs, which guards with ``or []``) finds — exactly
    on the big external vocabularies where only this path runs."""
    return (
        terms.select(
            "id",
            "entity_type",
            F.explode(
                F.concat(
                    F.array("name"),
                    F.coalesce(F.col("synonyms"), F.array().cast("array<string>")),
                )
            ).alias("surface"),
        )
        .select("id", "entity_type", with_normalized(F.col("surface")).alias("norm"))
        .distinct()
    )


def _name_norms(terms: DataFrame) -> DataFrame:
    return terms.select(
        "id", "entity_type", with_normalized(F.col("name")).alias("norm")
    ).distinct()


def merge_pairs(terms: DataFrame) -> DataFrame:
    """(src, dst) merge edges between term ids, src < dst: a term's
    name-norm appears among another same-type term's alias-norms."""
    n = F.broadcast(_name_norms(terms)).alias("n")  # dimension-sized: never shuffle
    a = _alias_norms(terms).alias("a")
    hits = n.join(
        a,
        (F.col("n.norm") == F.col("a.norm"))
        & (F.col("n.entity_type") == F.col("a.entity_type"))
        & (F.col("n.id") != F.col("a.id")),
    ).select(
        F.least(F.col("n.id"), F.col("a.id")).alias("src"),
        F.greatest(F.col("n.id"), F.col("a.id")).alias("dst"),
    )
    return hits.distinct()


def _driver_merge_pairs(
    rows: list,
) -> list[tuple[str, str]]:
    """Exact merge predicate evaluated with in-memory hash maps — the same
    hash-join the reference runs per parser process
    (/root/reference src/graphdb_connector/mapping.py:85-142), used here
    only when the vocabulary fits on the driver."""
    from .normalize import normalize_surface

    alias_index: dict[tuple[str, str], set[str]] = {}
    name_norm: dict[str, tuple[str, str]] = {}
    for r in rows:
        tid, etype = r["id"], r["entity_type"]
        norms = {normalize_surface(r["name"])}
        norms.update(normalize_surface(s) for s in (r["synonyms"] or []))
        for n in norms:
            alias_index.setdefault((etype, n), set()).add(tid)
        name_norm[tid] = (etype, normalize_surface(r["name"]))
    pairs: set[tuple[str, str]] = set()
    for tid, (etype, nn) in name_norm.items():
        for other in alias_index.get((etype, nn), ()):  # name-norm ∈ aliasNorms(other)
            if other != tid:
                pairs.add((min(tid, other), max(tid, other)))
    return sorted(pairs)


def build_canonical_map(
    terms: DataFrame,
    driver_cc_threshold: int = 1_000_000,
    driver_vocab_threshold: int = 200_000,
) -> DataFrame:
    """(term_id, node_id): every term maps to its cluster representative
    (min id in the connected component; itself when unmerged).

    Size-aware dispatch — the vocabulary is a *dimension* table, so the
    right physical plan depends on its size, not the corpus's:

    - ``<= driver_vocab_threshold`` terms: collect once and solve merge
      pairs + union-find entirely on the driver (milliseconds, 1 Spark
      job). A few hundred thousand terms is exactly the scale the
      reference holds in per-process dicts (mapping.py:85-142); burning
      ~40 Spark stages of fixed scheduling overhead on it would dominate
      the whole build at any corpus size.
    - larger: the distributed alias join (``merge_pairs``), then
      ``connected_components``, which collects and union-finds up to
      ``driver_cc_threshold`` pairs and runs the iterative pointer-jumping
      DataFrame CC above that. Tests assert all paths agree.

    The resulting map is dimension-sized — downstream rewrites broadcast
    it, so the hub-entity skew of the mention table never shuffles
    (broadcast joins are skew-immune on the probe side).
    """
    n_terms = terms.count()
    if n_terms <= driver_vocab_threshold:
        import pandas as pd
        from pyspark.sql.types import StringType, StructField, StructType

        rows = terms.select("id", "entity_type", "name", "synonyms").collect()
        mapping = union_find(_driver_merge_pairs(rows))
        data = sorted((r["id"], mapping.get(r["id"], r["id"])) for r in rows)
        return terms.sparkSession.createDataFrame(
            pd.DataFrame({"term_id": [a for a, _ in data], "node_id": [b for _, b in data]}),
            StructType(
                [
                    StructField("term_id", StringType(), False),
                    StructField("node_id", StringType(), False),
                ]
            ),
        )
    # vocab pairs are dimension-sized: one partition keeps cc's size
    # probe a single task
    comp = connected_components(
        merge_pairs(terms).coalesce(1),
        "src",
        "dst",
        driver_max_edges=driver_cc_threshold,
    )
    return (
        terms.select(F.col("id").alias("term_id"))
        .join(F.broadcast(comp), F.col("term_id") == F.col("node"), "left")
        .select(
            "term_id",
            F.coalesce(F.col("component"), F.col("term_id")).alias("node_id"),
        )
    )
