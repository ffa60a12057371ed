"""Training-data ops: dedup suite, simsearch, textstats, multimodal plumbing."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from ckg_spark.corpus.pages import generate_pages_df
from ckg_spark.extract import with_extracted_text
from ckg_spark.ops import dedup, multimodal, simsearch, textstats

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def corpus_texts(spark, pages_cfg):
    """Pages corpus with planted repeated-content hubs (exact dups)."""
    import dataclasses

    cfg = dataclasses.replace(pages_cfg, n_docs=400, dup_url_rate=0.05)
    df = with_extracted_text(generate_pages_df(spark, cfg)).select(
        F.col("url").alias("doc_id"), "text"
    )
    return df.cache()


# -- dedup ----------------------------------------------------------------
def test_exact_dedup_finds_planted_dups(spark, corpus_texts):
    groups = dedup.exact_dup_groups(corpus_texts, "doc_id", "text").collect()
    assert groups, "planted repeated-content hubs must be found"
    rows = {r["doc_id"]: r["text"] for r in corpus_texts.collect()}
    for g in groups:
        assert g["n_docs"] > 1
        # keeper is the min doc id of the group
        members = [d for d, t in rows.items() if t == rows[g["keeper_id"]]]
        assert g["keeper_id"] == min(members)
        assert g["n_docs"] == len(members)


def test_exact_dedup_matches_bruteforce(spark, corpus_texts):
    rows = [(r["doc_id"], r["text"]) for r in corpus_texts.collect()]
    by_text: dict[str, list[str]] = {}
    for d, t in rows:
        by_text.setdefault(t, []).append(d)
    exp = {(min(v), len(v)) for v in by_text.values() if len(v) > 1}
    got = {
        (r["keeper_id"], r["n_docs"])
        for r in dedup.exact_dup_groups(corpus_texts, "doc_id", "text").collect()
    }
    assert got == exp


def test_minhash_lsh_finds_exact_dups_with_jaccard_one(spark, corpus_texts):
    pairs = dedup.minhash_dup_candidates(
        corpus_texts, "doc_id", "text", jaccard_threshold=0.99
    ).collect()
    assert pairs
    rows = {r["doc_id"]: r["text"] for r in corpus_texts.collect()}
    # every exact-dup pair must be found (identical shingle sets -> identical sigs)
    by_text: dict[str, list[str]] = {}
    for d, t in rows.items():
        by_text.setdefault(t, []).append(d)
    expected_pairs = set()
    for members in by_text.values():
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                expected_pairs.add((ms[i], ms[j]))
    got_pairs = {(r["key_a"], r["key_b"]) for r in pairs}
    assert expected_pairs <= got_pairs
    for r in pairs:
        if (r["key_a"], r["key_b"]) in expected_pairs:
            assert r["jaccard"] == 1.0


def test_remove_repeated_spans_duplicate_ids_fail_loudly(spark):
    """r5 review: the int-shuffle span rewrite fans the merged per-doc
    keep-list back out to each duplicate row, which would silently
    corrupt clean_text — duplicate ids must raise instead (detected
    inside the existing aggregation: a single doc can never repeat a
    span index)."""
    from pyspark.errors import PySparkException

    docs = spark.createDataFrame(
        [("d1", "line a\nline b\nline c"), ("d1", "other text entirely")],
        ["doc_id", "text"],
    )
    with pytest.raises(PySparkException):
        dedup.remove_repeated_spans(
            docs, "text", "doc_id", mode="lines", min_repeats=2
        ).collect()
    # unique ids still pass through the same plan untouched
    ok = spark.createDataFrame(
        [("d1", "x\ny"), ("d2", "x\nz")], ["doc_id", "text"]
    )
    rows = {r["doc"]: r for r in dedup.remove_repeated_spans(
        ok, "text", "doc_id", mode="lines", min_repeats=2
    ).collect()}
    assert rows["d1"]["clean_text"] == "y" and rows["d2"]["clean_text"] == "z"
    assert rows["d1"]["n_removed"] == 1


@pytest.mark.parametrize("mode", ["lines", "token_windows"])
def test_remove_repeated_spans_duplicate_id_with_empty_copy_fails(spark, mode):
    """A duplicate id whose copy has ZERO spans adds only a sentinel row
    (idx null), which neither count(idx) nor max(idx) sees — the guard
    must still raise instead of emitting one output row per copy."""
    from pyspark.errors import PySparkException

    docs = spark.createDataFrame(
        [("d1", ""), ("d1", "alpha beta\ngamma delta\nepsilon"), ("d2", "zeta")],
        ["doc_id", "text"],
    )
    with pytest.raises(PySparkException):
        dedup.remove_repeated_spans(
            docs, "text", "doc_id", mode=mode, window=2, min_repeats=2
        ).collect()


def test_assign_cells_accepts_string_ids(spark, emb):
    """r5 review: the split_u quantizer seeding must not narrow the
    accepted id domain — string/UUID keys route through the portable
    MD5 hash instead of an ANSI-throwing cast('long')."""
    from ckg_spark.ops import simsearch

    sdocs = emb.select(
        F.concat(F.lit("vec-"), F.col("vec_id").cast("string")).alias("vid"),
        "embedding",
    )
    with_cells, centroids = simsearch.assign_cells(
        sdocs, n_cells=4, id_col="vid", vec_col="embedding"
    )
    rows = with_cells.select("vid", "cell").collect()
    assert len(rows) == emb.count()
    assert {r["cell"] for r in rows} <= set(range(4))
    assert centroids.shape[0] == 4


def test_assign_cells_decimal_ids(spark):
    """Only ids that cast to long exactly take the cast('long') seed:
    fractional decimals must not truncate onto one seed, wide decimals must
    not overflow under ANSI, and decimal(p<=18,0) seeds like bigint."""
    from ckg_spark.ops import simsearch

    def cells(ids, id_type, n_cells):
        vecs = [[1.0, 0.0], [0.0, 1.0], [0.6, 0.8]][: len(ids)]
        df = spark.createDataFrame(
            list(zip(ids, vecs)), f"vid {id_type}, embedding array<double>"
        )
        with_cells, centroids = simsearch.assign_cells(
            df, n_cells=n_cells, id_col="vid", vec_col="embedding"
        )
        return sorted(r["cell"] for r in with_cells.collect()), centroids

    from decimal import Decimal

    # 1.2 and 1.4 would both cast to 1: one seed cell, one averaged centroid
    _, centroids = cells([Decimal("1.2"), Decimal("1.4")], "decimal(38,2)", 64)
    seeded = {tuple(c) for c in centroids if c.any()}
    assert seeded == {(1.0, 0.0), (0.0, 1.0)}, seeded

    big = [Decimal(2**63 + 5), Decimal(2**64 + 7)]
    got, _ = cells(big, "decimal(38,0)", 4)
    assert len(got) == 2

    ids = [3, 17, 2**40]
    dec_cells, dec_centroids = cells([Decimal(i) for i in ids], "decimal(18,0)", 4)
    long_cells, long_centroids = cells(ids, "bigint", 4)
    assert dec_cells == long_cells
    assert np.array_equal(dec_centroids, long_centroids)


def test_portable_hash_parity_with_duckdb(spark):
    """The portable MD5/lowbias mixers (canon/lsh.py) exist so the LSH
    dedup family can carry full DuckDB value-hash oracles — assert the
    two engines compute IDENTICAL values for the string hashes and the
    band fold, including empty and non-BMP-unicode inputs."""
    import duckdb

    from ckg_spark.canon.lsh import (
        portable_band_hash,
        portable_band_hash_sql,
        portable_hash60,
        portable_hash60_sql,
        portable_hash64,
        portable_hash64_sql_unsigned,
    )

    strs = ["", "abc", "a b c", "Ünïcödé 💩", "the quick brown fox", "x" * 300]
    df = spark.createDataFrame([(s,) for s in strs], "s string")
    got = df.select(
        "s",
        portable_hash60(F.col("s")).alias("h60"),
        portable_hash64(F.col("s")).alias("h64"),
    ).collect()
    con = duckdb.connect()
    for r in got:
        d60 = con.execute(
            f"select {portable_hash60_sql('?')}", [r["s"]]
        ).fetchone()[0]
        # the unsigned renderer expands the expr twice (hi and lo slice)
        du64 = con.execute(
            f"select {portable_hash64_sql_unsigned('?')}", [r["s"], r["s"]]
        ).fetchone()[0]
        assert d60 == r["h60"], r["s"]
        # DuckDB computes the 64-bit pattern unsigned; compare mod 2^64
        assert du64 == r["h64"] % (1 << 64), r["s"]
    vals = [17, 2147480009, 0, 1234567]
    sdf = spark.createDataFrame([(vals,)], "v array<long>")
    sband = sdf.select(
        portable_band_hash(
            5, [F.element_at("v", i + 1) for i in range(len(vals))]
        ).alias("h")
    ).collect()[0]["h"]
    dband = con.execute(
        "select "
        + portable_band_hash_sql(5, [str(v) for v in vals])
    ).fetchone()[0]
    assert sband == dband
    con.close()


def test_minhash_portable_basis_finds_exact_dups(spark, corpus_texts):
    """The portable basis must preserve the recall-1.0 exact-dup property
    (identical shingle sets -> identical signatures -> same buckets)."""
    pairs = dedup.minhash_dup_candidates(
        corpus_texts, "doc_id", "text",
        jaccard_threshold=0.99, hash_basis="portable",
    ).collect()
    assert pairs
    rows = {r["doc_id"]: r["text"] for r in corpus_texts.collect()}
    by_text: dict[str, list[str]] = {}
    for d, t in rows.items():
        by_text.setdefault(t, []).append(d)
    got_pairs = {(r["key_a"], r["key_b"]) for r in pairs}
    for members in by_text.values():
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                assert (ms[i], ms[j]) in got_pairs


def test_simhash_portable_basis_finds_exact_dups(spark, corpus_texts):
    pairs = dedup.simhash_dup_candidates(
        corpus_texts, "doc_id", "text", max_hamming=3, hash_basis="portable"
    )
    got = {(r["key_a"], r["key_b"]) for r in pairs.collect()}
    rows = {r["doc_id"]: r["text"] for r in corpus_texts.collect()}
    by_text: dict[str, list[str]] = {}
    for d, t in rows.items():
        by_text.setdefault(t, []).append(d)
    for members in by_text.values():
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                assert (ms[i], ms[j]) in got  # identical text -> hamming 0


def test_ngram_jaccard_exact_values(spark):
    docs = spark.createDataFrame(
        [("a", "w1 w2 w3 w4"), ("b", "w1 w2 w3 w5"), ("c", "x y z q")],
        ["doc_id", "text"],
    )
    cands = spark.createDataFrame([("a", "b"), ("a", "c")], ["key_a", "key_b"])
    got = {
        (r["key_a"], r["key_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, cands, n=2, threshold=0.0).collect()
    }
    # bigrams a: {w1 w2, w2 w3, w3 w4}; b: {w1 w2, w2 w3, w3 w5} -> 2/4
    assert math.isclose(got[("a", "b")], 0.5)
    assert got[("a", "c")] == 0.0


def test_simhash_near_dups(spark, corpus_texts):
    pairs = dedup.simhash_dup_candidates(corpus_texts, "doc_id", "text", max_hamming=3)
    got = {(r["key_a"], r["key_b"]) for r in pairs.collect()}
    rows = {r["doc_id"]: r["text"] for r in corpus_texts.collect()}
    by_text: dict[str, list[str]] = {}
    for d, t in rows.items():
        by_text.setdefault(t, []).append(d)
    for members in by_text.values():
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                assert (ms[i], ms[j]) in got  # identical text -> hamming 0


def test_embedding_near_dup_pairs(spark, emb):
    # plant a near-duplicate vector
    row0 = emb.filter("vec_id = 0").collect()[0]
    near = [float(x) * 1.001 for x in row0["embedding"]]
    extra = spark.createDataFrame(
        [(100000, near, int(row0["label"]))], ["vec_id", "embedding", "label"]
    )
    aug = emb.select("vec_id", "embedding", "label").unionByName(extra)
    pairs = simsearch.cosine_self_pairs(aug, threshold=0.999, block_col="label")
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 100000) in got


# -- simsearch ------------------------------------------------------------
def test_brute_force_topk_matches_numpy(spark, emb):
    rows = emb.collect()
    q = list(rows[0]["embedding"])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])
    qv = np.array(q, dtype=np.float64)
    cos = (mat @ qv) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(qv))
    order = sorted(zip(ids, cos.round(6)), key=lambda t: (-t[1], t[0]))[:10]
    got = [(r["vec_id"], r["cosine"]) for r in simsearch.brute_force_topk(emb, q, k=10).collect()]
    assert [(int(i), float(c)) for i, c in order] == [(i, c) for i, c in got]
    assert got[0][0] == 0 and got[0][1] == 1.0


def test_ivf_topk_recall(spark, emb):
    rows = emb.collect()
    q = list(rows[7]["embedding"])
    exact = [r["vec_id"] for r in simsearch.brute_force_topk(emb, q, k=5).collect()]
    with_cells, centroids = simsearch.assign_cells(emb, n_cells=8)
    approx = [
        r["vec_id"]
        for r in simsearch.ivf_topk(with_cells, centroids, q, k=5, nprobe=4).collect()
    ]
    # query's own vector always retrieved; recall@5 >= 3/5 with half the cells probed
    assert 7 in approx
    assert len(set(exact) & set(approx)) >= 3


# -- textstats ------------------------------------------------------------
def test_token_count_and_fingerprint(spark):
    docs = spark.createDataFrame(
        [(1, "Hello, World! hello world"), (2, "hello world HELLO WORLD"), (3, "")],
        ["doc_id", "text"],
    )
    stats = {r["doc_id"]: r for r in textstats.doc_stats(docs).collect()}
    assert stats[1]["n_tokens"] == 4
    # fingerprint ignores case + punctuation -> 1 and 2 collide
    assert stats[1]["fingerprint"] == stats[2]["fingerprint"]
    assert stats[3]["n_tokens"] == 0


def test_quality_and_langid(spark, docs):
    out = textstats.langid_scores(docs).collect()
    assert all(r["pred_lang"] in {"de", "en", "es", "fr"} for r in out)
    q = textstats.doc_stats(docs).agg(F.min("quality"), F.max("quality")).collect()[0]
    assert q[0] is not None and q[1] is not None
    # english prose scores its stopwords
    en = spark.createDataFrame([(1, "the cat is in the hat and it was good")], ["doc_id", "text"])
    r = textstats.langid_scores(en).collect()[0]
    assert r["pred_lang"] == "en"


@pytest.mark.parametrize("lang", ["en", None])
def test_quality_stats_and_keep_match_quality_score(spark, lang):
    """quality_score is the reference spelling: the one-pass
    with_quality_stats columns equal token_count/quality_score, and
    quality_keep keeps exactly the rows the reference predicate keeps."""
    texts = [
        "",
        "   \t  ",
        "the cat is in the hat and it was good to see",
        "!!! ??? ... ,,, ;;",
        "supercalifragilistic antidisestablishmentarianism pneumonoultramicroscopic",
        "Hello, world! It's the best... isn't it? (Maybe.)",
        "der Hund ist mit dem Ball und das Kind spielt nicht",
        "le chat est dans la maison pour une nuit",
        "one two three four five six seven eight nine ten eleven",
    ]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    t = F.col("text")
    got = textstats.with_quality_stats(docs, "text", lang=lang).select(
        "doc_id", "n_tokens", "quality"
    )
    ref = docs.select(
        "doc_id",
        textstats.token_count(t).alias("n_tokens"),
        textstats.quality_score(t, lang).alias("quality"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))

    kept_any = set()
    for min_tokens, min_quality in [(0, 0.0), (1, 0.2), (3, 0.45), (8, 0.3), (2, 0.9)]:
        keep = textstats.quality_keep(t, min_tokens, min_quality, lang=lang)
        ref_keep = (textstats.token_count(t) >= min_tokens) & (
            textstats.quality_score(t, lang) >= min_quality
        )
        ids = lambda pred: {r["doc_id"] for r in docs.filter(pred).collect()}
        assert ids(keep) == ids(ref_keep), (min_tokens, min_quality)
        kept_any.add(len(ids(keep)))
    assert len(kept_any) > 2  # the grid separates the rows

    # lang=None scores against the multilingual profile, not English only
    de = docs.filter("doc_id = 6")
    q = lambda lg: de.select(textstats.quality_score(t, lg)).first()[0]
    assert q(None) > q("en")


# -- multimodal -----------------------------------------------------------
def test_multimodal_feature_plumbing(spark, docs):
    media = multimodal.docs_as_media(docs.limit(50))
    feats = multimodal.extract_media_features(media).collect()
    assert len(feats) == 50
    for r in feats:
        assert len(r["features"]) == multimodal.FEATURE_DIM
        assert r["n_bytes"] > 0 and r["width"] is not None
    # determinism: same payload -> same features
    feats2 = multimodal.extract_media_features(media.repartition(7)).collect()
    assert {r["media_id"]: r["features"] for r in feats2} == {
        r["media_id"]: r["features"] for r in feats
    }


def test_multimodal_real_decode_is_explicit_stub():
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(b"\x89PNG...")


def test_frame_sample_plan(spark):
    media = spark.createDataFrame([("v1", 100), ("v2", 10)], ["media_id", "n_frames"])
    rows = multimodal.frame_sample_plan(media, every_n=30).collect()
    got = sorted((r["media_id"], r["frame_idx"]) for r in rows)
    assert got == [("v1", 0), ("v1", 30), ("v1", 60), ("v1", 90), ("v2", 0)]


def test_salted_join_equals_plain_join(spark):
    from ckg_spark.ops import skew

    import pandas as pd

    # hot key "h" holds 60% of probe rows
    probe = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": ["h"] * 600 + [f"k{i}" for i in range(400)],
                "pv": list(range(1000)),
            }
        )
    )
    build = spark.createDataFrame(
        pd.DataFrame({"k": ["h"] + [f"k{i}" for i in range(400)], "bv": list(range(401))})
    )
    exp = sorted(map(tuple, probe.join(build, "k").select("k", "pv", "bv").collect()))
    got = sorted(
        map(
            tuple,
            skew.salted_join(probe, build, "k", salt=4).select("k", "pv", "bv").collect(),
        )
    )
    assert got == exp


def test_top_heavy_keys_and_salted_aggregate(spark):
    from ckg_spark.ops import skew

    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame(
            {"k": ["hot"] * 900 + ["cold"] * 100, "v": [1.0] * 900 + [2.0] * 100}
        )
    )
    heavy = {r["k"] for r in skew.top_heavy_keys(df, "k", min_share=0.5).collect()}
    assert heavy == {"hot"}
    agg = {
        r["k"]: (r["total"], r["n_rows"])
        for r in skew.salted_aggregate(df, "k", "v", salt=4).collect()
    }
    assert agg == {"hot": (900.0, 900), "cold": (200.0, 100)}


def test_transitive_closure_chain_and_dag(spark):
    from ckg_spark.ops.graph import transitive_closure

    # 20-deep chain: closure has n*(n+1)/2 pairs, min_depth correct
    n = 20
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(n)], ["subj", "obj"]
    )
    tc = {(r["subj"], r["obj"]): r["min_depth"] for r in transitive_closure(edges).collect()}
    assert len(tc) == n * (n + 1) // 2
    assert tc[("n00", f"n{n:02d}")] == n
    assert tc[("n05", "n06")] == 1
    # diamond: two paths, min depth wins
    dag = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("a", "d")],
        ["subj", "obj"],
    )
    got = {(r["subj"], r["obj"]): r["min_depth"] for r in transitive_closure(dag).collect()}
    assert got[("a", "d")] == 1  # direct edge shorter than the 2-hop paths


def test_transitive_closure_raises_when_still_growing(spark):
    """A partial closure silently loses ancestor pairs — fail loudly when
    the doubling budget is exhausted before the fixpoint."""
    import pytest

    from ckg_spark.ops.graph import transitive_closure

    chain = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(8)], ["subj", "obj"]
    )
    with pytest.raises(RuntimeError, match="still growing"):
        transitive_closure(chain, max_iterations=1)  # 2^1 < 8-deep chain


def test_pagerank_and_siblings_empty_graph(spark):
    """Empty edge frame: empty result, not ZeroDivisionError."""
    from ckg_spark.ops.graph import pagerank

    empty = spark.createDataFrame([], "subj string, obj string")
    assert pagerank(empty).collect() == []


def test_pagerank_matches_numpy_power_iteration(spark):
    import numpy as np

    from ckg_spark.ops.graph import pagerank

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "c")]  # d dangles into c; no out from? d->c so c hub
    nodes = sorted({x for e in edges for x in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    M = np.zeros((n, n))
    out = np.zeros(n)
    for s, d in set(edges):
        out[idx[s]] += 1
    for s, d in set(edges):
        M[idx[d], idx[s]] = 1.0 / out[idx[s]]
    damping, iters = 0.85, 15
    r = np.full(n, 1.0 / n)
    dangling_mask = out == 0
    for _ in range(iters):
        dangling = r[dangling_mask].sum()
        r = (1 - damping) / n + damping * (M @ r + dangling / n)
    exp = {v: r[idx[v]] for v in nodes}

    df = spark.createDataFrame(edges, ["subj", "obj"])
    got = {row["node"]: row["rank"] for row in pagerank(df).collect()}
    assert set(got) == set(exp)
    for v in nodes:
        assert abs(got[v] - exp[v]) < 1e-9, (v, got[v], exp[v])
    assert abs(sum(got.values()) - 1.0) < 1e-6


def test_label_propagation_matches_python_lpa(spark):
    """Deterministic synchronous LPA vs a straight-line Python oracle with
    the same rules (min-label tie-break, self-start, fixed iterations)."""
    from ckg_spark.ops.graph import label_propagation

    # two triangles joined by one bridge edge + an isolated pair
    edges = [
        ("a", "b"), ("b", "c"), ("c", "a"),
        ("x", "y"), ("y", "z"), ("z", "x"),
        ("c", "x"),
        ("p", "q"),
    ]
    adj: dict[str, set[str]] = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    labels = {v: v for v in adj}
    for _ in range(10):
        new = {}
        for v in adj:
            counts: dict[str, int] = {labels[v]: 1}  # self-vote
            for nb in adj[v]:
                counts[labels[nb]] = counts.get(labels[nb], 0) + 1
            best = max(counts.values())
            new[v] = min(lbl for lbl, c in counts.items() if c == best)
        labels = new

    df = spark.createDataFrame(edges, ["subj", "obj"])
    got = {r["node"]: r["community"] for r in label_propagation(df).collect()}
    assert got == labels
    # communities partition the triangles apart from the isolated pair
    assert got["p"] == got["q"]
    assert got["a"] == got["b"] == got["c"]


def test_label_propagation_deterministic_under_repartition(spark):
    from ckg_spark.ops.graph import label_propagation

    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("e", "f")]
    df1 = spark.createDataFrame(edges, ["subj", "obj"]).repartition(1)
    df8 = spark.createDataFrame(edges, ["subj", "obj"]).repartition(8)
    r1 = sorted(map(tuple, label_propagation(df1).collect()))
    r8 = sorted(map(tuple, label_propagation(df8).collect()))
    assert r1 == r8


def test_pca_matches_numpy_svd(spark):
    """Components/explained variance/projections vs numpy SVD on the same
    centered matrix (sign-normalized on both sides)."""
    import pandas as pd

    from ckg_spark.ops.pca import pca_project

    rng = np.random.RandomState(7)
    base = rng.normal(size=(300, 2)) @ np.array([[3.0, 1.0, 0.5], [0.2, 2.0, 1.5]])
    X = base + rng.normal(scale=0.1, size=(300, 3)) + np.array([5.0, -2.0, 1.0])
    pdf = pd.DataFrame(X, columns=["f1", "f2", "f3"])
    pdf["rid"] = range(len(pdf))
    df = spark.createDataFrame(pdf)

    projected, comps, explained = pca_project(df, ["f1", "f2", "f3"], k=2, id_cols=["rid"])

    Xc = X - X.mean(axis=0)
    U, S, Vt = np.linalg.svd(Xc, full_matrices=False)
    ref = Vt[:2].T.copy()
    for j in range(2):
        i = int(np.argmax(np.abs(ref[:, j])))
        if ref[i, j] < 0:
            ref[:, j] = -ref[:, j]
    assert np.allclose(comps, ref, atol=1e-8)

    var = S**2 / (len(X) - 1)
    ref_explained = var[:2] / var.sum()
    assert np.allclose(explained, ref_explained, atol=1e-9)

    got = {r["rid"]: (r["pc1"], r["pc2"]) for r in projected.collect()}
    proj_ref = Xc @ ref
    for i in range(len(X)):
        assert got[i][0] == pytest.approx(round(proj_ref[i, 0], 6), abs=1e-5)
        assert got[i][1] == pytest.approx(round(proj_ref[i, 1], 6), abs=1e-5)


# -- quantified near-dup recall gates --------------------------------------
@pytest.fixture(scope="module")
def planted_neardups(spark):
    """120 base docs + perturbed twins at token-replacement rates
    2/5/10/20/35%, with ground-truth exact shingle Jaccard computed by the
    engine's own verify_jaccard over every planted pair (so the gates
    measure CANDIDATE-GENERATION recall, the probabilistic part)."""
    import random

    import pandas as pd

    rng = random.Random(11)
    vocab = [f"tok{i}" for i in range(800)]
    rows, planted = [], []
    for i in range(120):
        base = [rng.choice(vocab) for _ in range(150)]
        rows.append((f"base{i}", " ".join(base)))
        rate = [0.02, 0.05, 0.10, 0.20, 0.35][i % 5]
        dup = list(base)
        for idx in rng.sample(range(150), int(150 * rate)):
            dup[idx] = rng.choice(vocab)
        rows.append((f"dup{i}", " ".join(dup)))
        planted.append((f"base{i}", f"dup{i}", rate))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"])).cache()
    sh = dedup.word_shingles(df, "doc_id", "text", 3).localCheckpoint()
    pair_df = spark.createDataFrame(
        pd.DataFrame([(a, b) for a, b, _ in planted], columns=["key_a", "key_b"])
    )
    truth = {
        (r.key_a, r.key_b): r.jaccard
        for r in dedup.verify_jaccard(pair_df, sh, 0.0).collect()
    }
    return df, planted, truth


def _recall(found: set, targets: list) -> float:
    if not targets:
        return 1.0
    return sum(1 for p in targets if tuple(sorted(p)) in found) / len(targets)


def test_minhash_recall_follows_s_curve(spark, planted_neardups):
    """Measured recall vs the exact-Jaccard predicate at three operating
    points; the floors sit under the theoretical 1-(1-s^r)^b with margin.
    Also guards the hash FAMILY itself: per-pair matching-minhash fraction
    must track the true Jaccard (a degenerate family matches all-or-none),
    checked on the corpus signature pass the curation near-dup stage runs."""
    df, planted, truth = planted_neardups

    sigs = {
        r.key: r.signature
        for r in dedup.minhash_signatures_corpus(
            df, "doc_id", "text", shingle_n=3, num_hashes=128
        ).collect()
    }
    for a, b, rate in planted[:10]:
        frac = sum(1 for x, y in zip(sigs[a], sigs[b]) if x == y) / 128
        assert abs(frac - truth[(a, b)]) < 0.15, (a, b, frac, truth[(a, b)])

    for nh, bands, thr, floor in [
        (32, 8, 0.8, 0.90),
        (128, 32, 0.7, 0.95),
        (128, 32, 0.5, 0.85),
    ]:
        out = dedup.minhash_dup_candidates(
            df, num_hashes=nh, bands=bands, jaccard_threshold=thr
        ).collect()
        found = {tuple(sorted((r.key_a, r.key_b))) for r in out}
        targets = [p for p, j in truth.items() if j >= thr]
        assert targets, thr
        r = _recall(found, targets)
        assert r >= floor, f"nh={nh} bands={bands} thr={thr}: recall {r:.3f} < {floor}"
        # precision is exact by construction (verify_jaccard): no emitted
        # pair may sit under the threshold
        assert all(row.jaccard >= thr for row in out)


def test_simhash_pigeonhole_blocking_is_lossless(spark, planted_neardups):
    """The chunked blocking must find EVERY pair within max_hamming (the
    pigeonhole guarantee is exact, not probabilistic) — checked for the
    default 4x16-bit split and the generalized 8-chunk split."""
    df, planted, _ = planted_neardups
    sigs = {r.key: r.simhash for r in dedup.simhash_signatures(df).collect()}
    for max_h in (3, 7):
        found = {
            tuple(sorted((r.key_a, r.key_b)))
            for r in dedup.simhash_dup_candidates(df, max_hamming=max_h).collect()
        }
        targets = [
            (a, b)
            for a, b, _rate in planted
            if bin(sigs[a] ^ sigs[b]).count("1") <= max_h
        ]
        assert targets, max_h
        assert _recall(found, targets) == 1.0, f"max_hamming={max_h} lost pairs"


# ----------------------------------------------------------------------
# KNN imputation
# ----------------------------------------------------------------------

def test_impute_knn_small_fixture(spark):
    import pandas as pd

    from ckg_spark.ops.impute import impute_knn

    # 4 samples x 3 features; s1 misses f1. Nearest by nan-euclidean on
    # shared features: s2 (identical observed profile), then s3.
    rows = []
    mat = {
        "s1": {"f1": None, "f2": 1.0, "f3": 2.0},
        "s2": {"f1": 10.0, "f2": 1.0, "f3": 2.0},
        "s3": {"f1": 20.0, "f2": 1.1, "f3": 2.1},
        "s4": {"f1": 90.0, "f2": 9.0, "f3": 9.0},
    }
    for s, fv in mat.items():
        for f_, v in fv.items():
            rows.append((s, f_, -1.0 if v is None else v, v is None))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["s", "f", "v", "miss"])
    )
    out = impute_knn(df, "s", "f", "v", F.col("miss"), k=2).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["s"], r["f"]) == ("s1", "f1")
    # k=2 nearest with f1 observed: s2 (dist 0) and s3 -> mean(10, 20)
    assert r["value_imputed"] == pytest.approx(15.0, abs=1e-9)


def test_impute_knn_feature_mean_fallback(spark):
    import pandas as pd

    from ckg_spark.ops.impute import impute_knn

    # s1 observes nothing => no distances => fall back to feature mean.
    rows = [
        ("s1", "f1", -1.0, True),
        ("s2", "f1", 4.0, False),
        ("s3", "f1", 8.0, False),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["s", "f", "v", "miss"])
    )
    out = impute_knn(df, "s", "f", "v", F.col("miss"), k=2).collect()
    assert len(out) == 1
    assert out[0]["value_imputed"] == pytest.approx(6.0, abs=1e-9)


# ----------------------------------------------------------------------
# k-means
# ----------------------------------------------------------------------

def _numpy_lloyds(X, ids, k, iters):
    """Reference Lloyd's with the operator's exact rules: seeds = k
    smallest ids, argmin ties -> lowest cid (numpy argmin's rule),
    empty clusters DROP from the centroid set (as in ops/cluster.py)."""
    order = np.argsort(ids)
    C = {c: X[order][c].astype(float) for c in range(k)}

    def assign(C):
        cids = sorted(C)
        D = np.stack([((X - C[c]) ** 2).sum(1) for c in cids], axis=1)
        return np.array(cids)[D.argmin(1)]

    for _ in range(iters):
        a = assign(C)
        C = {c: X[a == c].mean(0) for c in C if (a == c).any()}
    return assign(C)


def test_kmeans_matches_numpy_oracle(spark, emb):
    import pandas as pd

    from ckg_spark.ops.cluster import kmeans_assign

    pdf = emb.select("vec_id", "embedding").toPandas().sort_values("vec_id")
    X = np.vstack(pdf.embedding.values).astype(float)
    want = _numpy_lloyds(X, pdf.vec_id.values, k=10, iters=6)

    pts = emb.select("vec_id", F.posexplode("embedding").alias("dim", "val"))
    got = (
        kmeans_assign(pts, k=10, iters=6, id_col="vec_id")
        .orderBy("vec_id")
        .toPandas()
    )
    assert (got.cluster.values == want).all()

    # determinism: a different partitioning must give the same assignment
    got2 = (
        kmeans_assign(pts.repartition(7), k=10, iters=6, id_col="vec_id")
        .orderBy("vec_id")
        .toPandas()
    )
    assert got.equals(got2)


# ----------------------------------------------------------------------
# curation: deterministic sampling / packing / contamination
# ----------------------------------------------------------------------

def test_split_u_cross_engine_and_stable(spark):
    import duckdb

    from ckg_spark.ops.curation import split_u, split_u_sql

    df = spark.range(0, 2000).select(F.col("id"), split_u(F.col("id")).alias("u"))
    got = {r["id"]: r["u"] for r in df.collect()}
    want = {
        r[0]: r[1]
        for r in duckdb.sql(
            f"SELECT i, {split_u_sql('i')} FROM range(0, 2000) t(i)"
        ).fetchall()
    }
    assert got == want  # bit-identical across engines
    # stable under repartitioning (seeded sample() is not)
    got2 = {
        r["id"]: r["u"]
        for r in spark.range(0, 2000)
        .repartition(13)
        .select(F.col("id"), split_u(F.col("id")).alias("u"))
        .collect()
    }
    assert got == got2
    # roughly uniform
    frac = sum(1 for u in got.values() if u < 0.25) / len(got)
    assert 0.2 < frac < 0.3


def test_pack_greedy_budget_and_contiguity(spark):
    import pandas as pd

    from ckg_spark.ops.curation import pack_greedy

    pdf = pd.DataFrame(
        {
            "src": ["a"] * 10 + ["b"] * 5,
            "i": list(range(10)) + list(range(5)),
            "tok": [40, 40, 40, 100, 10, 10, 95, 5, 5, 5, 60, 60, 60, 60, 60],
        }
    )
    out = (
        pack_greedy(spark.createDataFrame(pdf), "src", "i", "tok", budget=100)
        .orderBy("src", "i")
        .collect()
    )
    by_bucket: dict = {}
    for r in out:
        by_bucket.setdefault((r["src"], r["bucket"]), []).append(r)
    max_tok = 100
    for (_, _), rows in by_bucket.items():
        # first-fit-with-overflow: at most budget + one doc's tokens
        assert sum(r["tok"] for r in rows) <= 100 + max_tok
        # contiguity within stratum
        idx = [r["i"] for r in rows]
        assert idx == list(range(min(idx), max(idx) + 1))
    # buckets increase monotonically in order
    for src in ("a", "b"):
        seq = [r["bucket"] for r in out if r["src"] == src]
        assert seq == sorted(seq)


def test_ngram_overlap_detects_planted_contamination(spark):
    import pandas as pd

    from ckg_spark.ops.curation import ngram_overlap_pairs

    leak = "the quick brown fox jumps over the lazy dog tonight"
    train = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": [
                "completely unrelated text with many many distinct words here",
                "prefix words then " + leak + " then suffix words",
            ],
        }
    )
    evald = pd.DataFrame({"doc_id": [100], "text": [leak]})
    out = ngram_overlap_pairs(
        spark.createDataFrame(train), spark.createDataFrame(evald),
        "doc_id", "text", n=8,
    ).collect()
    assert len(out) == 1
    assert (out[0]["left_id"], out[0]["right_id"]) == (2, 100)
    # 10-token leak contains 3 full 8-grams
    assert out[0]["n_shared"] == 3


def test_eigenvector_centrality_matches_numpy(spark):
    import pandas as pd

    from ckg_spark.ops.graph import eigenvector_centrality

    # weighted undirected triangle + pendant
    und = [(0, 1, 2.0), (1, 2, 1.0), (0, 2, 1.0), (2, 3, 0.5)]
    rows = [(a, b, w) for a, b, w in und] + [(b, a, w) for a, b, w in und]
    edges = spark.createDataFrame(pd.DataFrame(rows, columns=["src", "dst", "w"]))
    got = {
        r["id"]: r["val"]
        for r in eigenvector_centrality(edges, "src", "dst", "w", iters=40).collect()
    }
    A = np.zeros((4, 4))
    for a, b, w in und:
        A[a, b] = A[b, a] = w
    vals, vecs = np.linalg.eigh(A)
    v = vecs[:, np.argmax(vals)]
    v = np.abs(v) / np.linalg.norm(v)  # principal eigenvector, positive
    for i in range(4):
        assert got[i] == pytest.approx(v[i], abs=1e-6)


def test_split_u_negative_ids_stay_in_unit_interval(spark):
    import duckdb

    from ckg_spark.ops.curation import split_u, split_u_sql

    ids = list(range(-1000, 0)) + [-(2**40), -1, 2**40]
    df = spark.createDataFrame([(i,) for i in ids], ["id"])
    got = {r["id"]: r["u"] for r in df.select("id", split_u(F.col("id")).alias("u")).collect()}
    assert all(0.0 <= u < 1.0 for u in got.values())
    want = {
        r[0]: r[1]
        for r in duckdb.sql(
            f"SELECT i, {split_u_sql('i')} FROM (SELECT unnest({ids}) AS i)"
        ).fetchall()
    }
    assert got == want


def test_srp_neardup_recall_on_planted_pairs(spark, emb):
    """Every planted near-identical pair (cosine >= 0.999) must be found:
    at that angle a 4x8-bit SRP band matches with P >= 0.997 per band."""
    rows = emb.limit(40).collect()
    planted = []
    for r in rows:
        v = np.asarray(r["embedding"], dtype=np.float64)
        nv = v * 1.0001  # same direction -> cosine 1.0
        planted.append((int(r["vec_id"]) + 100000, [float(x) for x in nv]))
    base = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in rows]
    df = spark.createDataFrame(base + planted, "vec_id long, embedding array<float>")
    got = simsearch.srp_self_pairs(df, threshold=0.999)
    pairs = {(r["id_a"], r["id_b"]) for r in got.collect()}
    for vid, _ in base:
        assert (vid, vid + 100000) in pairs, f"planted pair for {vid} missed"
    # exact verify step: every emitted pair really is above threshold
    assert all(r["cosine"] >= 0.999 for r in got.collect())


def test_srp_pairs_deterministic_under_repartition(spark, emb):
    a = sorted(
        map(tuple, simsearch.srp_self_pairs(emb, threshold=0.5).collect())
    )
    b = sorted(
        map(tuple, simsearch.srp_self_pairs(emb.repartition(13), threshold=0.5).collect())
    )
    assert a == b


def test_srp_measured_recall_vs_exact(spark, emb):
    """Measured recall gate at a mid threshold against a TRUE all-pairs
    numpy oracle (not the IVF-blocked path, which has its own misses):
    SRP candidates + exact verify must recover >= 70% of cosine>=0.85
    pairs at the default 4x8-bit operating point."""
    rows = emb.collect()
    ids = [int(r["vec_id"]) for r in rows]
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    exact = {
        (min(ids[i], ids[j]), max(ids[i], ids[j]))
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if round(sims[i, j], 6) >= 0.85
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in simsearch.srp_self_pairs(emb, threshold=0.85).collect()
    }
    # precision is structural (every candidate is exact-verified)
    assert got <= exact
    if exact:
        recall = len(exact & got) / len(exact)
        assert recall >= 0.7, f"SRP recall {recall:.2f} < 0.7 ({len(exact)} true pairs)"


# -- betweenness centrality ------------------------------------------------
def _betweenness_path_enumeration_oracle(edges, weighted=False):
    """Independent reference: enumerate ALL shortest paths per pair
    explicitly (layered-DAG DFS — no Brandes accumulation anywhere) and
    count interior-node occurrences / path count. Exponential, fine for
    fixtures."""
    import itertools

    adj = {}
    for s, d, w in edges:
        adj.setdefault(s, {})[d] = min(w, adj.get(s, {}).get(d, float("inf")))
        adj.setdefault(d, {})[s] = min(w, adj.get(d, {}).get(s, float("inf")))
    nodes = sorted(adj)

    def sp_dists(s):
        import heapq

        dist = {s: 0.0}
        heap = [(0.0, s)]
        done = set()
        while heap:
            dv, v = heapq.heappop(heap)
            if v in done:
                continue
            done.add(v)
            for w, wt in adj[v].items():
                nd = dv + (wt if weighted else 1.0)
                if w not in dist or nd < dist[w]:
                    dist[w] = nd
                    heapq.heappush(heap, (nd, w))
        return dist

    dists = {s: sp_dists(s) for s in nodes}

    def all_shortest_paths(s, t):
        # walk backwards from t through tight edges
        paths = []

        def back(v, acc):
            if v == s:
                paths.append(list(reversed(acc + [s])))
                return
            for u, wt in adj[v].items():
                w = wt if weighted else 1.0
                if u in dists[s] and abs(dists[s][u] + w - dists[s][v]) < 1e-12:
                    back(u, acc + [v])

        if t in dists[s]:
            back(t, [])
        return paths

    bc = dict.fromkeys(nodes, 0.0)
    for s, t in itertools.combinations(nodes, 2):
        paths = all_shortest_paths(s, t)
        if not paths:
            continue
        for p in paths:
            for interior in p[1:-1]:
                bc[interior] += 1.0 / len(paths)
    n = len(nodes)
    norm = 2.0 / ((n - 1) * (n - 2)) if n > 2 else 1.0
    return {v: bc[v] * norm for v in nodes}


def test_betweenness_matches_path_enumeration_oracle(spark):
    from ckg_spark.ops.graph import betweenness_centrality

    # two triangles joined by a bridge + a pendant: multiple equal-length
    # paths, a cut vertex, and a leaf — every interesting case at once
    edges = [
        ("a", "b", 1.0), ("b", "c", 1.0), ("a", "c", 1.0),
        ("c", "d", 1.0),
        ("d", "e", 1.0), ("e", "f", 1.0), ("d", "f", 1.0),
        ("f", "g", 1.0),
    ]
    df = spark.createDataFrame(edges, ["src", "dst", "w"])
    exp = _betweenness_path_enumeration_oracle(edges)
    got = {r["node"]: r["betweenness"] for r in betweenness_centrality(df).collect()}
    assert set(got) == set(exp)
    for v in exp:
        assert abs(got[v] - exp[v]) < 1e-12, (v, got[v], exp[v])


def test_betweenness_weighted_matches_oracle(spark):
    from ckg_spark.ops.graph import betweenness_centrality

    # integer weights -> float arithmetic exact; reroutes around the
    # heavy edge, and the 2+2 vs 4 tie splits path counts
    edges = [
        ("a", "b", 4.0), ("a", "x", 2.0), ("x", "b", 2.0),
        ("b", "c", 1.0), ("c", "d", 3.0), ("b", "d", 5.0),
    ]
    df = spark.createDataFrame(edges, ["src", "dst", "w"])
    exp = _betweenness_path_enumeration_oracle(edges, weighted=True)
    got = {
        r["node"]: r["betweenness"]
        for r in betweenness_centrality(df, weight="w").collect()
    }
    for v in exp:
        assert abs(got[v] - exp[v]) < 1e-12, (v, got[v], exp[v])


def test_betweenness_oracle_sql_matches_spark_on_tie_graph(spark):
    """The unrolled DuckDB Brandes twin (betweenness_oracle_sql — the
    q_kg_betweenness hash gate) on a weighted graph with sigma > 1: the
    2+2-vs-4 tie splits path counts, exercising the DAG path-counting
    and dependency-split machinery the catalog fixture may not."""
    import duckdb

    from ckg_spark.ops.graph import betweenness_centrality, betweenness_oracle_sql

    edges = [
        ("a", "b", 4.0), ("a", "x", 2.0), ("x", "b", 2.0),
        ("b", "c", 1.0), ("c", "d", 3.0), ("b", "d", 5.0),
        ("d", "e", 1.0),
    ]
    df = spark.createDataFrame(edges, ["src", "dst", "w"])
    got = {
        r["node"]: round(r["betweenness"], 6)
        for r in betweenness_centrality(df, weight="w").collect()
    }
    values = ", ".join(f"('{s}', '{d}', CAST({w} AS DOUBLE))" for s, d, w in edges)
    sql = betweenness_oracle_sql(
        f"pairs(s, d, w) AS (VALUES {values})", iters=6, node_sql="node"
    )
    want = dict(duckdb.sql(sql).fetchall())
    assert got == want


def test_betweenness_sampled_deterministic_and_exact_when_full(spark):
    from ckg_spark.ops.graph import betweenness_centrality

    edges = [(f"n{i}", f"n{i + 1}", 1.0) for i in range(9)]
    df = spark.createDataFrame(edges, ["src", "dst", "w"])
    # sample_sources >= n degenerates to the exact computation
    exact = sorted(map(tuple, betweenness_centrality(df).collect()))
    full = sorted(map(tuple, betweenness_centrality(df, sample_sources=100).collect()))
    assert exact == full
    a = sorted(map(tuple, betweenness_centrality(df, sample_sources=4).collect()))
    b = sorted(
        map(tuple, betweenness_centrality(df.repartition(5), sample_sources=4).collect())
    )
    assert a == b


# -- single-linkage / MST ----------------------------------------------------
def _prim_mst_oracle(edges):
    """Independent MST reference: Prim with a priority queue (no Boruvka
    anywhere). Same (w, a, b) total-order tiebreak. Handles forests by
    restarting from every unvisited node. Returns {(a, b): w} with
    endpoints in input orientation."""
    import heapq

    adj = {}
    for a, b, w in edges:
        adj.setdefault(a, []).append((w, a, b))
        adj.setdefault(b, []).append((w, a, b))
    seen = set()
    mst = {}
    for start in sorted(adj):
        if start in seen:
            continue
        seen.add(start)
        heap = sorted(adj[start])
        heapq.heapify(heap)
        while heap:
            w, a, b = heapq.heappop(heap)
            nxt = b if a in seen else a
            if nxt in seen:
                continue
            seen.add(nxt)
            mst[(a, b)] = w
            for item in adj[nxt]:
                heapq.heappush(heap, item)
    return mst


def _naive_single_linkage(nodes, edges):
    """Independent dendrogram reference: textbook O(n^3) agglomerative
    single-linkage on the sparse distance graph (missing pairs = inf)."""
    import math

    dist = {}
    for a, b, w in edges:
        dist[frozenset((a, b))] = min(w, dist.get(frozenset((a, b)), math.inf))
    clusters = {i: {v} for i, v in enumerate(nodes)}
    sizes = {i: 1 for i in clusters}
    nxt = len(nodes)
    merges = []
    while len(clusters) > 1:
        best = None
        for i in sorted(clusters):
            for j in sorted(clusters):
                if j <= i:
                    continue
                d = min(
                    (
                        dist.get(frozenset((x, y)), math.inf)
                        for x in clusters[i]
                        for y in clusters[j]
                    ),
                    default=math.inf,
                )
                if best is None or d < best[0]:
                    best = (d, i, j)
        d, i, j = best
        if math.isinf(d):
            break  # forest: remaining clusters are disconnected
        merges.append([i, j, d, sizes[i] + sizes[j]])
        clusters[nxt] = clusters.pop(i) | clusters.pop(j)
        sizes[nxt] = merges[-1][3]
        nxt += 1
    return merges


_MST_EDGES = [
    ("a", "b", 1.0), ("b", "c", 7.0), ("a", "c", 3.0), ("c", "d", 2.0),
    ("d", "e", 9.0), ("b", "e", 4.0), ("a", "e", 8.0), ("e", "f", 5.0),
    ("f", "g", 6.0), ("c", "g", 11.0),
    # second component (forest case)
    ("x", "y", 1.5), ("y", "z", 2.5), ("x", "z", 10.0),
]


def test_boruvka_mst_matches_prim(spark):
    from ckg_spark.ops.cluster import boruvka_mst

    df = spark.createDataFrame(_MST_EDGES, ["src", "dst", "dist"])
    got = {(r["src"], r["dst"]): r["dist"] for r in boruvka_mst(df).collect()}
    exp = _prim_mst_oracle(_MST_EDGES)
    assert got == exp
    # forest: n - k edges (12 nodes? count) — two components
    n = len({x for e in _MST_EDGES for x in e[:2]})
    assert len(got) == n - 2


def test_boruvka_deterministic_under_repartition(spark):
    from ckg_spark.ops.cluster import boruvka_mst

    df1 = spark.createDataFrame(_MST_EDGES, ["src", "dst", "dist"]).repartition(1)
    df9 = spark.createDataFrame(_MST_EDGES, ["src", "dst", "dist"]).repartition(9)
    r1 = sorted(map(tuple, boruvka_mst(df1).collect()))
    r9 = sorted(map(tuple, boruvka_mst(df9).collect()))
    assert r1 == r9


def test_boruvka_raises_on_nonconvergence(spark):
    """A partial spanning forest is wrong, not just slow (downstream
    single-linkage clusters silently change) — same contract as k_core."""
    import pytest

    from ckg_spark.ops.cluster import boruvka_mst

    df = spark.createDataFrame(_MST_EDGES, ["src", "dst", "dist"])
    with pytest.raises(RuntimeError, match="converge"):
        boruvka_mst(df, max_rounds=0)


def test_linkage_matrix_matches_naive_agglomerative(spark):
    """MST -> Kruskal-replay linkage == textbook agglomerative single
    linkage (merge heights and sizes; cluster ids canonicalized by
    height since id numbering is representation-dependent)."""
    from ckg_spark.ops.cluster import boruvka_mst, linkage_matrix

    edges = [e for e in _MST_EDGES if e[0] not in "xyz"]  # connected part
    nodes = sorted({x for e in edges for x in e[:2]})
    df = spark.createDataFrame(edges, ["src", "dst", "dist"])
    mst = [(r["src"], r["dst"], r["dist"]) for r in boruvka_mst(df).collect()]
    z = linkage_matrix(mst, nodes)
    naive = _naive_single_linkage(nodes, edges)
    assert [(m[2], m[3]) for m in z] == [(m[2], m[3]) for m in naive]
    # monotone heights, n-1 merges, final size n
    assert all(z[i][2] <= z[i + 1][2] for i in range(len(z) - 1))
    assert len(z) == len(nodes) - 1 and z[-1][3] == len(nodes)


def _seeded_graph(n=24, seed=7):
    """Deterministic sparse graph: edge (i, j) present iff md5(i,j,seed)
    lands below a threshold. Independent of the engine's hashing."""
    import hashlib

    edges = []
    for i in range(n):
        for j in range(i + 1, n):
            h = hashlib.md5(f"{i},{j},{seed}".encode()).digest()[0]
            if h < 66:  # ~26% edge density
                edges.append((f"n{i:02d}", f"n{j:02d}"))
    return edges


def test_triangle_stats_matches_bruteforce(spark):
    from itertools import combinations

    from ckg_spark.ops.graph import triangle_stats

    edges = _seeded_graph()
    eset = set(edges)
    nodes = sorted({x for e in edges for x in e})
    adj = {v: set() for v in nodes}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    tri = {v: 0 for v in nodes}
    for x, y, z in combinations(nodes, 3):
        if (x, y) in eset and (y, z) in eset and (x, z) in eset:
            tri[x] += 1
            tri[y] += 1
            tri[z] += 1
    assert sum(tri.values()) > 0  # fixture is non-trivial

    # feed BOTH directions + duplicates: the op must canonicalize
    df = spark.createDataFrame(
        edges + [(b, a) for a, b in edges[::3]], ["subj", "obj"]
    )
    got = {r["node"]: r for r in triangle_stats(df).collect()}
    assert set(got) == set(nodes)
    for v in nodes:
        d = len(adj[v])
        assert got[v]["degree"] == d
        assert got[v]["triangles"] == tri[v], (v, got[v]["triangles"], tri[v])
        exp_c = 2.0 * tri[v] / (d * (d - 1)) if d > 1 else 0.0
        assert abs(got[v]["clustering"] - exp_c) < 1e-12


def test_k_core_matches_python_peeling(spark):
    from ckg_spark.ops.graph import k_core

    edges = _seeded_graph()
    k = 3
    alive = set(edges)
    while True:
        deg = {}
        for a, b in alive:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {v for v, d in deg.items() if d >= k}
        nxt = {(a, b) for a, b in alive if a in keep and b in keep}
        if nxt == alive:
            break
        alive = nxt
    exp = {}
    for a, b in alive:
        exp[a] = exp.get(a, 0) + 1
        exp[b] = exp.get(b, 0) + 1
    assert exp and len(exp) < len({x for e in edges for x in e})  # real peel

    df = spark.createDataFrame(edges, ["subj", "obj"])
    got = {r["node"]: r["core_degree"] for r in k_core(df, k=k).collect()}
    assert got == exp


def test_k_core_empty_when_graph_too_sparse(spark):
    from ckg_spark.ops.graph import k_core

    df = spark.createDataFrame([("a", "b"), ("b", "c")], ["subj", "obj"])
    assert k_core(df, k=2).count() == 0


def test_triangle_stats_deterministic_under_repartition(spark):
    from ckg_spark.ops.graph import triangle_stats

    edges = _seeded_graph(seed=11)
    d1 = spark.createDataFrame(edges, ["subj", "obj"]).coalesce(1)
    d8 = spark.createDataFrame(edges, ["subj", "obj"]).repartition(8)
    r1 = sorted(map(tuple, triangle_stats(d1).collect()))
    r8 = sorted(map(tuple, triangle_stats(d8).collect()))
    assert r1 == r8


def test_closeness_matches_python_reference(spark):
    from collections import deque

    from ckg_spark.ops.graph import closeness_centrality

    edges = _seeded_graph(n=18, seed=3)
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    n = len(adj)
    exp = {}
    for s in adj:
        dist = {s: 0}
        q = deque([s])
        while q:
            v = q.popleft()
            for w in adj[v]:
                if w not in dist:
                    dist[w] = dist[v] + 1
                    q.append(w)
        r, tot = len(dist), sum(dist.values())
        exp[s] = ((r - 1) / tot) * ((r - 1) / (n - 1)) if tot > 0 else 0.0

    df = spark.createDataFrame(edges, ["subj", "obj"])
    got = {r["node"]: r["closeness"] for r in closeness_centrality(df, "subj", "obj").collect()}
    assert set(got) == set(exp)
    for v in exp:
        assert abs(got[v] - exp[v]) < 1e-12, (v, got[v], exp[v])


def test_closeness_weighted_path_anchor(spark):
    from ckg_spark.ops.graph import closeness_centrality

    # path a -2- b -3- c: distances from a: {b:2, c:5}; wf factor 1
    df = spark.createDataFrame(
        [("a", "b", 2.0), ("b", "c", 3.0)], ["subj", "obj", "w"]
    )
    got = {
        r["node"]: r["closeness"]
        for r in closeness_centrality(df, "subj", "obj", weight="w").collect()
    }
    assert abs(got["a"] - 2.0 / 7.0) < 1e-12
    assert abs(got["b"] - 2.0 / 5.0) < 1e-12


def test_graph_summary_matches_python(spark):
    from itertools import combinations

    from ckg_spark.ops.graph import graph_summary

    edges = _seeded_graph(n=16, seed=5)
    eset = set(edges)
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    nodes = sorted(adj)
    n, m = len(nodes), len(edges)
    tri = sum(
        1
        for x, y, z in combinations(nodes, 3)
        if (x, y) in eset and (y, z) in eset and (x, z) in eset
    )
    wedges = sum(len(adj[v]) * (len(adj[v]) - 1) / 2 for v in nodes)
    xs, ys = [], []
    for a, b in edges:
        xs += [len(adj[a]), len(adj[b])]
        ys += [len(adj[b]), len(adj[a])]
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    cov = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / (len(xs) - 1)
    sx = (sum((x - mx) ** 2 for x in xs) / (len(xs) - 1)) ** 0.5
    sy = (sum((y - my) ** 2 for y in ys) / (len(ys) - 1)) ** 0.5
    exp_assort = cov / (sx * sy)

    df = spark.createDataFrame(edges, ["subj", "obj"])
    got = graph_summary(df).collect()[0]
    assert got["n_nodes"] == n and got["n_edges"] == m
    assert got["n_triangles"] == tri
    assert abs(got["density"] - 2.0 * m / (n * (n - 1))) < 1e-6
    assert abs(got["transitivity"] - 3.0 * tri / wedges) < 1e-6
    assert abs(got["assortativity"] - exp_assort) < 1e-6


def test_graph_summary_regular_graph_null_assortativity(spark):
    """Degenerate Pearson: on a regular graph every endpoint degree is
    equal, the variance term is 0 and assortativity must be NULL (what
    F.corr and DuckDB CORR return) — not a DIVIDE_BY_ZERO under ANSI
    from the closed-form moments."""
    from ckg_spark.ops.graph import graph_summary

    # 6-cycle: every node degree 2
    df = spark.createDataFrame(
        [(str(i), str((i + 1) % 6)) for i in range(6)], ["subj", "obj"]
    )
    got = graph_summary(df).collect()[0]
    assert got["n_nodes"] == 6 and got["n_edges"] == 6
    assert got["assortativity"] is None


def test_frame_sample_plan_zero_frames_emit_no_rows(spark):
    """n_frames=0 media must emit NO rows — the old greatest(n-1, 0)
    clamp fabricated a phantom frame 0 the decode cannot read."""
    media = spark.createDataFrame(
        [("v1", 100), ("v0", 0), ("v2", 1)], ["media_id", "n_frames"]
    )
    rows = multimodal.frame_sample_plan(media, every_n=30).collect()
    got = sorted((r["media_id"], r["frame_idx"]) for r in rows)
    assert got == [("v1", 0), ("v1", 30), ("v1", 60), ("v1", 90), ("v2", 0)]


def test_zero_norm_vectors_score_zero_not_crash(spark):
    """All-zero embeddings (padding/empty-doc rows) score cosine 0.0 —
    the unguarded division threw DIVIDE_BY_ZERO under ANSI."""
    from pyspark.sql import functions as F

    from ckg_spark.ops import simsearch

    emb = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.9, 0.1])],
        "vec_id long, embedding array<float>",
    )
    top = simsearch.brute_force_topk(emb, [1.0, 0.0], k=3).collect()
    assert top[0]["vec_id"] == 2
    assert {r["vec_id"]: r["cosine"] for r in top}[1] == 0.0
    pairs = simsearch.cosine_self_pairs(
        emb.withColumn("label", F.lit("x")), threshold=0.0, block_col="label"
    ).collect()
    zero_pairs = [p for p in pairs if 1 in (p["id_a"], p["id_b"])]
    assert zero_pairs and all(p["cosine"] == 0.0 for p in zero_pairs)


def test_srp_pairs_empty_frame_returns_empty(spark):
    """An empty embeddings frame yields zero candidates instead of a
    TypeError from first()[0] during the dimension probe."""
    from ckg_spark.ops import simsearch

    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert simsearch.srp_self_pairs(emb).count() == 0


def test_betweenness_random_graph_sweep(spark):
    """Random-graph sweep vs the path-enumeration oracle: three seeded
    sparse graphs of different sizes/densities (disconnected components
    included) — input-space coverage beyond the handcrafted motif
    graphs."""
    from ckg_spark.ops.graph import betweenness_centrality

    for n, seed in ((10, 21), (14, 22), (18, 23)):
        edges = [(a, b, 1.0) for a, b in _seeded_graph(n=n, seed=seed)]
        if not edges:
            continue
        df = spark.createDataFrame(edges, ["src", "dst", "w"])
        exp = _betweenness_path_enumeration_oracle(edges)
        got = {
            r["node"]: r["betweenness"] for r in betweenness_centrality(df).collect()
        }
        assert set(got) == set(exp), (n, seed)
        for v in exp:
            assert abs(got[v] - exp[v]) < 1e-9, (n, seed, v)


def test_closeness_random_graph_sweep(spark):
    from collections import deque

    from ckg_spark.ops.graph import closeness_centrality

    for n, seed in ((12, 31), (20, 32)):
        edges = _seeded_graph(n=n, seed=seed)
        if not edges:
            continue
        adj = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        nn = len(adj)
        exp = {}
        for s in adj:
            dist = {s: 0}
            q = deque([s])
            while q:
                v = q.popleft()
                for w in adj[v]:
                    if w not in dist:
                        dist[w] = dist[v] + 1
                        q.append(w)
            r, tot = len(dist), sum(dist.values())
            exp[s] = ((r - 1) / tot) * ((r - 1) / (nn - 1)) if tot > 0 else 0.0
        df = spark.createDataFrame(edges, ["subj", "obj"])
        got = {
            r["node"]: r["closeness"]
            for r in closeness_centrality(df, "subj", "obj").collect()
        }
        assert set(got) == set(exp), (n, seed)
        for v in exp:
            assert abs(got[v] - exp[v]) < 1e-12, (n, seed, v)


def test_closeness_sampled_all_pivots_matches_exact(spark):
    """sample_pivots >= n makes every node a pivot: the Eppstein-Wang
    estimate collapses to the exact wf closeness (paths-agree)."""
    from ckg_spark.ops.graph import (
        closeness_centrality,
        closeness_centrality_sampled,
    )

    edges = _seeded_graph(n=18, seed=44)
    df = spark.createDataFrame(edges, ["subj", "obj"])
    exact = {
        r["node"]: r["closeness"]
        for r in closeness_centrality(df, "subj", "obj").collect()
    }
    got = {
        r["node"]: r["closeness"]
        for r in closeness_centrality_sampled(
            df, "subj", "obj", sample_pivots=10_000
        ).collect()
    }
    assert set(got) == set(exact)
    for v in exact:
        assert abs(got[v] - exact[v]) < 1e-9, v


def test_closeness_sampled_error_bound(spark):
    """m << n landmark estimate vs exact on a ~1500-node graph: bounded
    median relative error and high rank agreement (the documented contract
    of the scale fallback past the broadcast gate)."""
    import numpy as np

    from ckg_spark.ops.graph import (
        closeness_centrality,
        closeness_centrality_sampled,
    )

    n = 1500
    rng = np.random.default_rng(77)
    ring = [(f"v{i:04d}", f"v{(i + 1) % n:04d}") for i in range(n)]
    chords = [
        (f"v{a:04d}", f"v{b:04d}")
        for a, b in rng.integers(0, n, size=(3 * n, 2)).tolist()
        if a != b
    ]
    df = spark.createDataFrame(ring + chords, ["subj", "obj"])
    exact = {
        r["node"]: r["closeness"]
        for r in closeness_centrality(df, "subj", "obj").collect()
    }
    got = {
        r["node"]: r["closeness"]
        for r in closeness_centrality_sampled(
            df, "subj", "obj", sample_pivots=256
        ).collect()
    }
    assert set(got) == set(exact)
    keys = sorted(exact)
    ex = np.array([exact[k] for k in keys])
    es = np.array([got[k] for k in keys])
    rel = np.abs(es - ex) / ex
    assert float(np.median(rel)) < 0.1, float(np.median(rel))
    # Spearman rank correlation without scipy
    rx = np.argsort(np.argsort(ex)).astype(float)
    ry = np.argsort(np.argsort(es)).astype(float)
    rho = float(np.corrcoef(rx, ry)[0, 1])
    assert rho > 0.9, rho


def test_closeness_sampled_dispatch(spark):
    from ckg_spark.analysis import run_analysis
    from ckg_spark.ops.graph import closeness_centrality_sampled

    edges = _seeded_graph(n=14, seed=45)
    df = spark.createDataFrame(edges, ["subj", "obj"])
    via_dispatch = {
        r["node"]: r["closeness"]
        for r in run_analysis(df, "closeness", {"sample_pivots": 6}).collect()
    }
    direct = {
        r["node"]: r["closeness"]
        for r in closeness_centrality_sampled(
            df, "subj", "obj", sample_pivots=6
        ).collect()
    }
    assert via_dispatch == direct


def test_closeness_sampled_releases_superseded_bfs_blocks(spark):
    """ADVICE r3: the per-round BFS checkpoints must be unpersisted once
    superseded — a diameter-D run must NOT retain ~D copies of the dist
    frame (localCheckpoint blocks are never auto-unpersisted). A path
    graph maximizes rounds; afterwards only the frames the returned plan
    still reads (bi, nodes, final dist) may remain pinned."""
    from ckg_spark.ops.graph import closeness_centrality_sampled

    sc = spark.sparkContext
    spark.catalog.clearCache()
    for jrdd in dict(sc._jsc.getPersistentRDDs()).values():
        jrdd.unpersist()
    # chain 0-1-2-...-24: diameter 24 -> ~24 BFS rounds
    df = spark.createDataFrame(
        [(str(i), str(i + 1)) for i in range(24)], ["subj", "obj"]
    )
    out = closeness_centrality_sampled(
        df, "subj", "obj", sample_pivots=25, max_iterations=40
    )
    assert out.count() == 25
    retained = len(dict(sc._jsc.getPersistentRDDs()))
    # bi + nodes + final dist (+ slack for internal sub-blocks); before
    # the fix a 24-round run retained ~50 frames
    assert retained <= 6, retained
    for jrdd in dict(sc._jsc.getPersistentRDDs()).values():
        jrdd.unpersist()


# ----------------------------------------------------------------------
# Real media decode (stdlib PNG/BMP, PIL-preferred) — VERDICT r02 #5
# ----------------------------------------------------------------------


def _encode_png(arr, filter_type=0):
    """Test-side PNG encoder (independent of the decoder): applies the
    chosen per-row filter then deflates — exercises each unfilter path."""
    import struct
    import zlib

    import numpy as np

    h, w, ch = arr.shape
    ctype = {1: 0, 3: 2, 4: 6}[ch]

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    flat = arr.reshape(h, w * ch).astype(int)
    out = bytearray()
    prev = [0] * (w * ch)
    for r in range(h):
        row = list(flat[r])
        out.append(filter_type)
        for x in range(w * ch):
            left = row[x - ch] if x >= ch else 0
            up = prev[x]
            ul = prev[x - ch] if x >= ch else 0
            pred = {
                0: 0,
                1: left,
                2: up,
                3: (left + up) >> 1,
                4: paeth(left, up, ul),
            }[filter_type]
            out.append((row[x] - pred) & 0xFF)
        prev = row

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(out)))
        + chunk(b"IEND", b"")
    )


def _encode_bmp(arr):
    import struct

    import numpy as np

    h, w, _ = arr.shape
    stride = (w * 3 + 3) & ~3
    body = bytearray()
    for r in range(h - 1, -1, -1):  # bottom-up
        row = arr[r][:, ::-1].astype(np.uint8).tobytes()  # RGB->BGR
        body += row + b"\x00" * (stride - len(row))
    off = 14 + 40
    return (
        b"BM"
        + struct.pack("<IHHI", off + len(body), 0, 0, off)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 0, 0, 0, 0)
        + bytes(body)
    )


def test_decode_png_all_filters_bit_exact():
    import numpy as np

    from ckg_spark.ops.multimodal import decode_media

    rng = np.random.default_rng(21)
    arr = rng.integers(0, 256, size=(13, 9, 3), dtype=np.uint8)
    for ftype in range(5):
        got = decode_media(_encode_png(arr, filter_type=ftype))
        assert np.array_equal(got, arr), f"filter {ftype}"
    # grayscale replicates to RGB; RGBA drops alpha
    g = rng.integers(0, 256, size=(6, 5, 1), dtype=np.uint8)
    got = decode_media(_encode_png(g, filter_type=2))
    assert np.array_equal(got, np.repeat(g, 3, axis=2))
    ga = rng.integers(0, 256, size=(6, 5, 4), dtype=np.uint8)
    got = decode_media(_encode_png(ga, filter_type=4))
    assert np.array_equal(got, ga[:, :, :3])


def test_decode_bmp_bit_exact():
    import numpy as np

    from ckg_spark.ops.multimodal import decode_media

    rng = np.random.default_rng(22)
    arr = rng.integers(0, 256, size=(7, 5, 3), dtype=np.uint8)
    assert np.array_equal(decode_media(_encode_bmp(arr)), arr)


def _encode_wav(samples, rate, sampwidth, nch):
    """Independent PCM WAV encoder (struct-packed RIFF by hand — not the
    stdlib wave writer, so the decode test is not self-referential).
    ``samples``: int array, interleaved when nch > 1."""
    import struct

    import numpy as np

    if sampwidth == 1:  # 8-bit WAV is unsigned
        raw = (samples.astype(np.int16) + 128).astype(np.uint8).tobytes()
    elif sampwidth == 2:
        raw = samples.astype("<i2").tobytes()
    else:
        raw = samples.astype("<i4").tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, nch, rate, rate * nch * sampwidth,
        nch * sampwidth, sampwidth * 8,
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(raw)) + raw
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_decode_wav_bit_exact():
    import numpy as np

    from ckg_spark.ops.multimodal import decode_wav

    rng = np.random.default_rng(31)
    # 16-bit mono: decode must be exactly v / 32768
    s16 = rng.integers(-32768, 32768, size=240, dtype=np.int64)
    rate, got = decode_wav(_encode_wav(s16, 16000, 2, 1))
    assert rate == 16000
    assert np.array_equal(got, s16 / 32768.0)
    # 8-bit mono (stored unsigned): exactly v / 128
    s8 = rng.integers(-128, 128, size=100, dtype=np.int64)
    rate, got = decode_wav(_encode_wav(s8, 8000, 1, 1))
    assert rate == 8000
    assert np.array_equal(got, s8 / 128.0)
    # 32-bit stereo: channels mean-mix to mono
    s32 = rng.integers(-(2**31), 2**31, size=120, dtype=np.int64)
    rate, got = decode_wav(_encode_wav(s32, 44100, 4, 2))
    assert rate == 44100
    want = (s32 / 2147483648.0).reshape(-1, 2).mean(axis=1)
    assert np.array_equal(got, want)


def test_audio_features_envelope():
    import numpy as np

    from ckg_spark.ops.multimodal import FEATURE_DIM, audio_features

    # constant amplitude per slice -> envelope == amplitudes / peak
    amps = np.arange(1, FEATURE_DIM + 1, dtype=np.float64)
    samples = np.repeat(amps, 10)  # 10 samples per slice, slice-aligned
    got = audio_features(samples)
    want = amps / amps.max()
    assert np.allclose(got, want, atol=1e-6)
    assert np.array_equal(
        audio_features(np.array([])), np.zeros(FEATURE_DIM, dtype=np.float32)
    )


def test_extract_audio_features_real_codec(spark):
    """End-to-end: WAV payloads through the Arrow map with codec='real'
    — true sample counts/rates/durations and RMS envelopes; the payload
    column is absent from the output schema."""
    import numpy as np

    from ckg_spark.ops.multimodal import (
        audio_features,
        extract_audio_features,
    )

    rng = np.random.default_rng(32)
    clips = {
        f"a{i}": rng.integers(-32768, 32768, size=160 + 37 * i, dtype=np.int64)
        for i in range(4)
    }
    rows = [
        (mid, bytearray(_encode_wav(s, 16000, 2, 1))) for mid, s in clips.items()
    ]
    df = spark.createDataFrame(rows, schema="media_id string, payload binary")
    out = extract_audio_features(df, codec="real")
    assert "payload" not in out.columns
    got = {r["media_id"]: r for r in out.collect()}
    for mid, s in clips.items():
        r = got[mid]
        assert r["sample_rate"] == 16000
        assert r["n_samples"] == s.size
        assert r["duration_sec"] == s.size / 16000
        want = audio_features(s / 32768.0)
        assert np.allclose(np.array(r["features"]), want, atol=1e-6)


def test_extract_media_features_real_audio_kind(spark):
    """kind='audio' rows route through the WAV decode in the generic
    media map under codec='real' (the former declared audio boundary):
    null width/height, RMS-envelope features."""
    import numpy as np

    from ckg_spark.ops.multimodal import audio_features, extract_media_features

    rng = np.random.default_rng(33)
    s = rng.integers(-32768, 32768, size=200, dtype=np.int64)
    df = spark.createDataFrame(
        [("aud1", "audio", bytearray(_encode_wav(s, 22050, 2, 1)))],
        schema="media_id string, kind string, payload binary",
    )
    r = extract_media_features(df, codec="real").collect()[0]
    assert r["width"] is None and r["height"] is None
    assert np.allclose(
        np.array(r["features"]), audio_features(s / 32768.0), atol=1e-6
    )


def test_decode_media_unknown_format_raises():
    import pytest as _pytest

    from ckg_spark.ops.multimodal import decode_media

    with _pytest.raises((NotImplementedError, Exception)):
        decode_media(b"not an image at all")


def test_extract_media_features_real_codec(spark):
    """End-to-end: binary PNG payloads through the Arrow map with
    codec='real' — true dimensions and luminance histograms, payload
    column absent from the output schema."""
    import numpy as np

    from ckg_spark.ops.multimodal import (
        extract_media_features,
        real_features,
    )

    rng = np.random.default_rng(23)
    imgs = {
        f"m{i}": rng.integers(0, 256, size=(8 + i, 6 + i, 3), dtype=np.uint8)
        for i in range(4)
    }
    rows = [
        (mid, "image", bytearray(_encode_png(arr))) for mid, arr in imgs.items()
    ]
    df = spark.createDataFrame(
        rows, schema="media_id string, kind string, payload binary"
    )
    out = extract_media_features(df, codec="real")
    assert "payload" not in out.columns
    got = {r["media_id"]: r for r in out.collect()}
    for mid, arr in imgs.items():
        r = got[mid]
        assert (r["height"], r["width"]) == (arr.shape[0], arr.shape[1])
        want = real_features(arr)
        assert np.allclose(np.array(r["features"]), want, atol=1e-6)


def test_decode_matches_pil_when_available():
    import pytest as _pytest

    PIL = _pytest.importorskip("PIL")  # noqa: F841
    import io

    import numpy as np
    from PIL import Image

    from ckg_spark.ops.multimodal import _decode_png

    rng = np.random.default_rng(24)
    arr = rng.integers(0, 256, size=(11, 7, 3), dtype=np.uint8)
    payload = _encode_png(arr, filter_type=3)
    via_pil = np.asarray(Image.open(io.BytesIO(payload)).convert("RGB"))
    assert np.array_equal(via_pil, _decode_png(payload))


def test_closeness_sampled_rejects_weighted_request(spark):
    from ckg_spark.analysis import run_analysis

    df = spark.createDataFrame([("a", "b", 1.0)], ["subj", "obj", "w"])
    with pytest.raises(ValueError, match="unweighted-only"):
        run_analysis(df, "closeness", {"weight": "w", "sample_pivots": 4})


# ----------------------------------------------------------------------
# Topological Mapper (run_mapper/kmapper parity) — ops/mapper.py
# ----------------------------------------------------------------------


def test_mapper_clustering_matches_independent_reference(spark):
    """Per-cube complete-linkage/correlation clustering vs an in-test
    independent agglomerative implementation (compared as PARTITIONS —
    label ranks are an implementation detail)."""
    import itertools

    import numpy as np

    from ckg_spark.ops.mapper import mapper_nodes

    rng = np.random.default_rng(11)
    # two correlation-separated families of sample vectors
    base_a = rng.normal(0, 1, 12)
    base_b = rng.normal(0, 1, 12)
    rows = []
    for i in range(6):
        rows.append((i, (base_a + rng.normal(0, 0.05, 12)).tolist()))
    for i in range(6, 11):
        rows.append((i, (base_b + rng.normal(0, 0.05, 12)).tolist()))
    df = spark.createDataFrame(
        [(i, *v) for i, v in rows],
        "id bigint, " + ", ".join(f"f{j} double" for j in range(12)),
    )
    feats = [f"f{j}" for j in range(12)]
    # single cube (n_cubes=1) so clustering is global
    out = mapper_nodes(
        df.withColumn("lens", df["f0"] * 0.0),
        "id", feats, ["lens"], n_cubes=1, overlap=0.0, n_clusters=2,
    ).collect()
    got = {}
    for r in out:
        got.setdefault(r["node"], set()).add(r["id"])
    got_partition = {frozenset(v) for v in got.values()}

    # independent reference: naive complete-linkage on correlation dist
    X = np.array([v for _i, v in rows])
    C = np.corrcoef(X)
    D = 1.0 - C
    clusters = [{i} for i in range(11)]
    while len(clusters) > 2:
        best = None
        for a, b in itertools.combinations(range(len(clusters)), 2):
            d = max(D[p, q] for p in clusters[a] for q in clusters[b])
            if best is None or d < best[0]:
                best = (d, a, b)
        _, a, b = best
        clusters[a] |= clusters[b]
        del clusters[b]
    ref_partition = {frozenset(c) for c in clusters}
    assert got_partition == ref_partition


def test_mapper_cover_and_nerve_properties(spark):
    """Cover totality (every sample in >=1 node), overlap sharing (a
    boundary point lands in 2 adjacent cubes), and blob separation
    (well-separated lens blobs produce a disconnected nerve)."""
    from ckg_spark.ops.mapper import cover_assign, mapper_nerve

    # lens blobs A over [0, 30] and B over [70, 100] (range 0..100,
    # w=10): each blob spans several cubes with boundary-straddling
    # samples, the 40-unit gap spans >2 empty cubes
    rows = [(i, i * 1.5) for i in range(21)] + [
        (100 + i, 70.0 + i * 1.5) for i in range(21)
    ]
    df = spark.createDataFrame(rows, "id bigint, lens double")
    cov = cover_assign(df, "id", ["lens"], n_cubes=10, overlap=0.5)
    per_id = {r["id"] for r in cov.collect()}
    assert per_id == {r[0] for r in rows}  # totality
    # nerve: n_clusters=1, feature cols unused
    edges = mapper_nerve(
        df, "id", ["lens"], ["lens"], n_cubes=10, overlap=0.5, n_clusters=1
    ).collect()
    assert edges, "overlapping cover must share samples across cubes"
    # no edge bridges the two blobs: blob A occupies cubes <= 3, blob B
    # cubes >= 6 — the nerve must be disconnected across the gap
    for r in edges:
        a, b = r["node_a"], r["node_b"]
        assert (a <= 3 and b <= 3) or (a >= 6 and b >= 6), (a, b)


def test_mapper_nodes_n1_is_pure_cover(spark):
    """n_clusters=1 must not touch the pandas boundary: node set == cover."""
    from ckg_spark.ops.mapper import cover_assign, mapper_nodes

    df = spark.createDataFrame(
        [(1, 0.0), (2, 0.5), (3, 1.0)], "id bigint, lens double"
    )
    nodes = mapper_nodes(df, "id", [], ["lens"], n_cubes=4, overlap=0.5,
                         n_clusters=1)
    cov = cover_assign(df, "id", ["lens"], n_cubes=4, overlap=0.5)
    assert sorted((r["id"], r["node"]) for r in nodes.collect()) == sorted(
        (r["id"], r["cube"]) for r in cov.collect()
    )
    from tests.test_plans import plan_of  # reuse the plan helper

    assert "FlatMapGroupsInPandas" not in plan_of(nodes)


def test_mapper_dispatch_matches_direct(spark):
    from ckg_spark.analysis import run_analysis
    from ckg_spark.ops.mapper import mapper_nerve

    df = spark.createDataFrame(
        [(i, i * 1.0, float(i % 3)) for i in range(30)],
        "id bigint, lens double, f0 double",
    )
    args = {"id_col": "id", "feature_cols": ["f0"], "lens_cols": ["lens"],
            "n_cubes": 5, "overlap": 0.5, "n_clusters": 1}
    via = sorted(map(tuple, run_analysis(df, "mapper", args).collect()))
    direct = sorted(map(tuple, mapper_nerve(
        df, "id", ["f0"], ["lens"], n_cubes=5, overlap=0.5, n_clusters=1
    ).collect()))
    assert via == direct and via


def test_mapper_guards(spark):
    """Driver-side loud failures: clustering without features; packed
    node-id overflow (review findings)."""
    import pytest

    from ckg_spark.ops.mapper import mapper_nerve, mapper_nodes

    df = spark.createDataFrame([(1, 0.5)], "id bigint, lens double")
    with pytest.raises(ValueError, match="feature_cols"):
        mapper_nodes(df, "id", [], ["lens"], n_clusters=2)
    with pytest.raises(ValueError, match="overflow"):
        mapper_nerve(
            df, "id", ["lens"], ["lens"] * 8, n_cubes=15, n_clusters=3
        )


def test_graph_summary_assortativity_random_sweep(spark):
    """Centered-co-moment assortativity vs numpy's corrcoef over random
    graphs (5 seeds) — guards the review rewrite of the stable form."""
    import numpy as np

    from ckg_spark.ops.graph import graph_summary

    for seed in (3, 11, 29, 47, 90):
        edges = _seeded_graph(n=14, seed=seed)
        adj: dict = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        xs, ys = [], []
        for a, b in edges:
            xs += [len(adj[a]), len(adj[b])]
            ys += [len(adj[b]), len(adj[a])]
        exp = float(np.corrcoef(xs, ys)[0, 1])
        df = spark.createDataFrame(edges, ["subj", "obj"])
        got = graph_summary(df).collect()[0]["assortativity"]
        assert got == pytest.approx(exp, abs=1e-6), seed
