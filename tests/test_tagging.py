"""Aho-Corasick semantics + distributed tagger vs the brute-force oracle."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from ckg_spark.corpus.pages import generate_pages_df
from ckg_spark.corpus.vocab import vocab_dataframes
from ckg_spark.extract import with_extracted_text
from ckg_spark.oracle import _find_mentions
from ckg_spark.tag import build_automaton, tag_mentions
from ckg_spark.tag.aho import AhoCorasick


def _ac(*rows):
    return build_automaton(
        [{"canonical_id": cid, "source": "SYN", "alias": alias, "entity_type": et}
         for alias, cid, et in rows]
    )


def test_longest_match_wins():
    ac = _ac(("gastric cancer", "D:1", "Disease"), ("gastric cancer syndrome", "D:2", "Disease"))
    hits = ac.find("Patient has Gastric Cancer Syndrome today")
    assert [(h[2], h[3][1]) for h in hits] == [("gastric cancer syndrome", "D:2")]
    hits2 = ac.find("gastric cancer only")
    assert [(h[2], h[3][1]) for h in hits2] == [("gastric cancer", "D:1")]


def test_word_boundaries():
    ac = _ac(("card", "D:1", "Disease"))
    assert ac.find("discard cardigan card!") == [(17, 21, "card", ("Disease", "D:1"))]
    assert ac.find("card") == [(0, 4, "card", ("Disease", "D:1"))]


def test_case_insensitive_and_multi_mapping():
    ac = _ac(("abc syn", "D:1", "Disease"), ("abc syn", "P:9", "Protein"))
    hits = ac.find("Has ABC Syn here")
    assert {h[3] for h in hits} == {("Disease", "D:1"), ("Protein", "P:9")}


def test_overlapping_distinct_patterns():
    ac = _ac(("alpha beta", "D:1", "Disease"), ("beta gamma", "D:2", "Disease"))
    hits = ac.find("alpha beta gamma")
    # leftmost wins, second overlapping candidate dropped
    assert [(h[2]) for h in hits] == ["alpha beta"]


def test_short_surfaces_dropped():
    ac = _ac(("ab", "D:1", "Disease"), ("abc", "D:2", "Disease"))
    assert [h[3][1] for h in ac.find("ab abc")] == ["D:2"]


def test_automaton_matches_bruteforce_oracle():
    surfaces = {
        "cardioma": [("Disease", "D:1")],
        "acute cardioma": [("Disease", "D:2")],
        "cardioma alpha": [("Disease", "D:3")],
        "neuritis": [("Disease", "D:4"), ("Tissue", "T:1")],
    }
    ac = AhoCorasick()
    for s, payloads in surfaces.items():
        for p in payloads:
            ac.add(s, p)
    ac.build()
    texts = [
        "acute cardioma and cardioma alpha then neuritis",
        "CARDIOMA! cardioma, cardiomax acute  cardioma",
        "neuritis neuritis cardioma alpha alpha",
    ]
    for t in texts:
        got = {(s, e, payload) for s, e, _surf, payload in ac.find(t)}
        exp = set()
        for s, e, surf in _find_mentions(t, surfaces):
            for payload in surfaces[surf]:
                exp.add((s, e, payload))
        assert got == exp, t


def test_distributed_tagger_matches_oracle(spark, vocab, pages_cfg):
    """Spark tagger output == brute-force per-doc oracle on the fixture corpus."""
    terms, aliases, blocklist = vocab_dataframes(spark, vocab)
    pages_text = with_extracted_text(generate_pages_df(spark, pages_cfg))

    term_type = {t["id"]: t["entity_type"] for t in vocab.terms}
    alias_rows = [
        {**a, "entity_type": term_type[a["canonical_id"]]} for a in vocab.aliases
    ]
    ac_bc = spark.sparkContext.broadcast(build_automaton(alias_rows))
    mentions = tag_mentions(pages_text, ac_bc, blocklist=blocklist)
    got = {
        (r["url"], r["canonical_id"]): (r["n_hits"], r["n_tokens"])
        for r in mentions.collect()
    }

    # oracle: brute force over collected english texts
    blocked = {b["id"] for b in vocab.blocklist}
    surface_payloads: dict[str, list] = {}
    for a in alias_rows:
        s = a["alias"].lower().strip()
        if len(s) < 3:
            continue
        surface_payloads.setdefault(s, [])
        p = (a["entity_type"], a["canonical_id"])
        if p not in surface_payloads[s]:
            surface_payloads[s].append(p)
    exp: dict[tuple[str, str], tuple[int, int]] = {}
    for r in pages_text.filter("lang = 'en'").select("url", "text").collect():
        n_tok = len(r["text"].split())
        acc: dict[str, int] = {}
        for _s, _e, surf in _find_mentions(r["text"], surface_payloads):
            for _et, cid in surface_payloads[surf]:
                if cid not in blocked:
                    acc[cid] = acc.get(cid, 0) + 1
        for cid, cnt in acc.items():
            exp[(r["url"], cid)] = (cnt, n_tok)
    assert got == exp
    assert len(got) > 100  # corpus actually contains mentions


def test_no_mentions_from_non_english(spark, vocab, pages_cfg):
    terms, aliases, blocklist = vocab_dataframes(spark, vocab)
    pages_text = with_extracted_text(generate_pages_df(spark, pages_cfg))
    term_type = {t["id"]: t["entity_type"] for t in vocab.terms}
    ac_bc = spark.sparkContext.broadcast(
        build_automaton([{**a, "entity_type": term_type[a["canonical_id"]]} for a in vocab.aliases])
    )
    mentions = tag_mentions(pages_text, ac_bc)
    non_en = pages_text.filter("lang <> 'en'").select("url")
    assert mentions.join(non_en, "url", "inner").count() == 0


def _engines(vocab):
    from ckg_spark.tag import build_automaton

    etype = {t["id"]: t["entity_type"] for t in vocab.terms}
    rows = [{**a, "entity_type": etype[a["canonical_id"]]} for a in vocab.aliases]
    return [build_automaton(rows, engine=e) for e in ("aho", "hash")]


def test_all_engines_equal_on_corpus(vocab, pages_cfg):
    """The hash tagger produces identical matches to the Aho-Corasick
    reference over the full synthetic corpus."""
    from ckg_spark.corpus.pages import _gen_one
    from ckg_spark.extract.html_text import extract_text

    aho, hsh = _engines(vocab)
    for i in range(150):
        _url, _ts, html, _lang = _gen_one(pages_cfg.seed, i, pages_cfg)
        text = extract_text(html)
        exp = sorted(aho.find(text))
        assert sorted(hsh.find(text)) == exp, text[:200]


def test_hash_engine_equals_aho_adversarial():
    from ckg_spark.tag import build_automaton

    rows = [
        {"canonical_id": "A", "alias": "gastric"},
        {"canonical_id": "B", "alias": "gastric cancer"},
        {"canonical_id": "C", "alias": "cancer"},
        {"canonical_id": "D", "alias": "alpha-beta"},
        {"canonical_id": "E", "alias": "alpha"},
        {"canonical_id": "F", "alias": "x1 y2"},
        {"canonical_id": "G", "alias": "shared syn"},
        {"canonical_id": "H", "alias": "shared syn"},  # multi-mapping fan-out
    ]
    aho = build_automaton(rows, engine="aho")
    hsh = build_automaton(rows, engine="hash")
    cases = [
        "gastric cancer clinic",          # longest wins
        "gastric cancerous growth",       # long candidate fails boundary -> short
        "agastric cancer",                # leading boundary violation
        "alpha-beta blocker and alpha",   # hyphenated + plain
        "the x1 y2 code x1 y23",          # digit boundary at the end
        "shared syn here",                # two payloads, one span
        "GASTRIC Cancer",                 # case-insensitivity
        "cancer. gastric, cancer-free",   # punctuation boundaries
        "",                               # empty text
        "ggastric cancer gastric",        # prefix noise then real match
    ]
    for text in cases:
        exp = sorted(aho.find(text))
        assert sorted(hsh.find(text)) == exp, text


def test_hash_engine_equals_aho_hypothesis():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ckg_spark.tag import build_automaton

    rows = [
        {"canonical_id": "A", "alias": "abc"},
        {"canonical_id": "B", "alias": "abc def"},
        {"canonical_id": "C", "alias": "def"},
        {"canonical_id": "D", "alias": "a-b"},
        {"canonical_id": "E", "alias": "xy1"},
    ]
    aho = build_automaton(rows, engine="aho")
    hsh = build_automaton(rows, engine="hash")
    alphabet = st.sampled_from(list("abcdef xy1-._,!é5"))

    @given(st.text(alphabet=alphabet, max_size=60))
    @settings(max_examples=500, deadline=None)
    def check(text):
        exp = sorted(aho.find(text))
        assert sorted(hsh.find(text)) == exp, repr(text)

    check()


def test_engines_equal_on_metacharacter_aliases():
    """Aliases containing regex metacharacters and non-ASCII ('c++',
    'il-6(v2)', 'p.v600e', 'tnf-α', 'a+b'): the hash engine's boundary
    guards must agree with the Aho-Corasick reference when a surface
    starts/ends in punctuation."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ckg_spark.tag import build_automaton

    rows = [
        {"canonical_id": "A", "alias": "c++"},
        {"canonical_id": "B", "alias": "il-6(v2)"},
        {"canonical_id": "C", "alias": "p.v600e"},
        {"canonical_id": "D", "alias": "tnf-α"},
        {"canonical_id": "E", "alias": "a+b"},
        {"canonical_id": "F", "alias": "il-6"},
    ]
    aho = build_automaton(rows, engine="aho")
    hsh = build_automaton(rows, engine="hash")

    cases = [
        "the c++ compiler and il-6(v2) assay",
        "p.v600e mutation; tnf-α level",
        "a+b = c, not a+bc",
        "il-6 vs il-6(v2) vs xil-6",
        "c+++ and c++x",
    ]
    for text in cases:
        exp = sorted(aho.find(text))
        assert sorted(hsh.find(text)) == exp, text

    alphabet = st.sampled_from(list("abcilv+-().α62 pe"))

    @given(st.text(alphabet=alphabet, max_size=50))
    @settings(max_examples=300, deadline=None)
    def check(text):
        exp = sorted(aho.find(text))
        assert sorted(hsh.find(text)) == exp, repr(text)

    check()


def test_build_automaton_rejects_unknown_engine():
    """Only 'hash' and 'aho' exist: a typo or a retired engine name must
    raise instead of silently building the slow pure-Python reference."""
    import pytest

    rows = [{"canonical_id": "A", "alias": "gastric"}]
    for engine in ("regex", "Hash", "ahocorasick", ""):
        with pytest.raises(ValueError, match="engine"):
            build_automaton(rows, engine=engine)
