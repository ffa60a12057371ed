"""Canonicalization: exact alias-join pairs + union-find; clusters match the oracle."""

from __future__ import annotations

from ckg_spark.canon import build_canonical_map, connected_components, merge_pairs
from ckg_spark.canon.normalize import normalize_surface, with_normalized
from ckg_spark.corpus.vocab import vocab_dataframes
from ckg_spark.oracle import _merge_clusters

from pyspark.sql import functions as F


def test_normalize_python_equals_spark(spark):
    samples = [
        "Acute Gastric-Cancer",
        "cancer gastric acute",
        "a_b/c,d.e",
        "  spaced   out  ",
        "UPPER-case",
    ]
    df = spark.createDataFrame([(s,) for s in samples], ["s"])
    got = [r["n"] for r in df.select(with_normalized(F.col("s")).alias("n")).collect()]
    assert got == [normalize_surface(s) for s in samples]


def test_null_synonyms_terms_still_merge(spark):
    """Two same-named terms whose synonyms arrays are NULL must merge in
    the DISTRIBUTED path: concat(array(name), synonyms) is null-intolerant,
    so without a coalesce guard such terms lose ALL alias norms (name
    included) and the merge is missed — exactly the divergence from the
    driver union-find path, which guards with `synonyms or []`."""
    terms = spark.createDataFrame(
        [
            ("T1", "Disease", "Acute Gastric Cancer", "d1", None),
            ("T2", "Disease", "acute gastric-cancer", "d2", None),
            ("T3", "Disease", "unrelated disorder", "d3", None),
        ],
        "id string, entity_type string, name string, description string, synonyms array<string>",
    )
    pairs = {(r["src"], r["dst"]) for r in merge_pairs(terms).collect()}
    assert ("T1", "T2") in pairs
    assert not any("T3" in p for p in pairs)


def test_lsh_banding_mismatch_raises(spark):
    """bands*rows_per_band must equal the signature length — a mismatch
    fails loudly instead of an ANSI INVALID_ARRAY_INDEX mid-join (or a
    silent prefix-only banding)."""
    import pytest

    from ckg_spark.canon.lsh import lsh_candidate_pairs

    sigs = spark.createDataFrame(
        [("a", list(range(16))), ("b", list(range(16)))],
        "key string, signature array<long>",
    )
    with pytest.raises(ValueError, match="bands"):
        lsh_candidate_pairs(sigs, bands=8, rows_per_band=4)  # expects 32


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y"), ("z", "y"), ("q", "q2")],
        ["src", "dst"],
    )
    comp = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == comp["y"] == comp["z"] == "x"
    assert comp["q"] == comp["q2"] == "q"


def test_connected_components_chain(spark):
    """Long chain (worst-case diameter) still converges — forced through
    the DISTRIBUTED pointer-jumping loop (driver_max_edges=0), which the
    default union-find short-circuit would otherwise bypass."""
    n = 30
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n)], ["src", "dst"]
    )
    comp = {
        r["node"]: r["component"]
        for r in connected_components(edges, driver_max_edges=0).collect()
    }
    assert set(comp.values()) == {"n000"}


def test_connected_components_raises_on_nonconvergence(spark):
    """Partial labels are wrong, not just slow — exhausting max_iter
    without the zero-changes fixpoint must raise (k_core contract)."""
    import pytest

    n = 30
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n)], ["src", "dst"]
    )
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(edges, driver_max_edges=0, max_iter=1)


def test_distributed_cc_equals_driver_union_find(spark, vocab):
    """Three-way agreement: the distributed pointer-jumping loop, cc's
    union-find short-circuit (default gate), and the independent oracle
    clustering (restricted to the paired nodes) produce the same labeling."""
    terms, _, _ = vocab_dataframes(spark, vocab)
    pairs = merge_pairs(terms)
    pair_list = [(r["src"], r["dst"]) for r in pairs.collect()]
    assert len(pair_list) >= len(vocab.expected_merges)
    oracle = _merge_clusters(vocab)
    exp = {n: oracle[n] for pair in pair_list for n in pair}
    dist = {
        r["node"]: r["component"]
        for r in connected_components(pairs, driver_max_edges=0).collect()
    }
    fast = {
        r["node"]: r["component"] for r in connected_components(pairs).collect()
    }
    assert dist == exp
    assert fast == exp


def test_canonical_map_all_paths_agree(spark, vocab):
    """driver-vocab fast path == distributed pairs + driver CC == fully
    distributed (alias-join pairs + iterative DataFrame CC)."""
    terms, _, _ = vocab_dataframes(spark, vocab)
    fast = build_canonical_map(terms)  # driver fast path (default)
    mid = build_canonical_map(terms, driver_vocab_threshold=0)
    full = build_canonical_map(terms, driver_vocab_threshold=0, driver_cc_threshold=0)
    exp = sorted(map(tuple, fast.collect()))
    assert sorted(map(tuple, mid.collect())) == exp
    assert sorted(map(tuple, full.collect())) == exp


def test_canonical_map_matches_oracle(spark, vocab):
    terms, _, _ = vocab_dataframes(spark, vocab)
    got = {
        r["term_id"]: r["node_id"]
        for r in build_canonical_map(terms).collect()
    }
    exp = _merge_clusters(vocab)
    assert got == exp
    # planted twins actually merged
    for orig, twin in vocab.expected_merges:
        assert got[twin] == got[orig] == min(orig, twin)
    # multi-mapped shared synonyms did NOT merge their hosts
    shared_hosts = {}
    for a in vocab.aliases:
        if a["alias"].startswith("shared"):
            shared_hosts.setdefault(a["alias"], []).append(a["canonical_id"])
    checked = 0
    for alias, hosts in shared_hosts.items():
        if len(hosts) == 2 and (hosts[0], hosts[1]) not in vocab.expected_merges:
            a, b = hosts
            if got[a] != got[b]:
                checked += 1
    assert checked > 0
