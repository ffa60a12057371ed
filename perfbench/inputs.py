"""Seeded input generators for the benchmark workloads.

Every input is a pure function of the workload seed: the seed derives the
vocabulary and page seeds (``derive``), and each generator draws from its
own ``random.Random`` stream. Inputs are written as parquet (several files,
so the scan fans out over every core) into a per-seed cache directory and
reused by later runs with the same seed. Generation runs in this process,
before the Spark session starts, and is not part of any timing.

The program receives only what is generated here: a pages parquet plus the
``VocabConfig`` it is derived from (KG workloads), a documents parquet
(curation), or a directory of the catalog's tables (queries).
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import random
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

N_FILES = 12

_FILLER = (
    "the a of and to in is that it was for on with as by at from this be are "
    "report study page news weather sports travel finance cooking music history "
    "science culture research update article review story team season market "
    "city county school village river road bridge garden museum library record "
    "early late new old large small quick steady common rare local national"
).split()

_LANGS = ["de", "fr", "es", "zh"]
_EPOCH = 1_600_000_000
_NON_EN_EVERY = 20  # every 20th page is not English: the tagger skips it


def derive(seed: int, label: str) -> int:
    """A 31-bit sub-seed of ``seed`` for one named input stream."""
    return int.from_bytes(hashlib.sha256(f"{seed}:{label}".encode()).digest()[:4], "big") >> 1


def _cache_dir(cache: str, name: str, seed: int, profile) -> str:
    """Per-seed cache directory, keyed by the profile as well."""
    digest = hashlib.sha256(repr(profile).encode()).hexdigest()[:10]
    return os.path.join(cache, f"{name}-{seed}-{digest}")


def _write(table: pa.Table, path: str) -> None:
    """Write ``table`` as ``N_FILES`` parquet files under ``path``, atomically."""
    tmp = path + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    step = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        pq.write_table(table.slice(i * step, step), os.path.join(tmp, f"part-{i:03d}.parquet"))
    os.replace(tmp, path)


# -- KG pages -------------------------------------------------------------


@dataclass(frozen=True)
class PagesProfile:
    n_docs: int
    words: tuple[int, int]       # body length range
    entities: int                # distinct tagged entities per English page, plus one hub
    terms_per_type: int          # vocabulary size (5 entity types)


def _decorate(rng: random.Random, surface: str) -> str:
    style = rng.randint(0, 5)
    if style == 1:
        surface = surface.upper()
    elif style == 2:
        surface = surface.title()
    wrap = rng.randint(0, 3)
    if wrap == 1:
        return f"<b>{surface}</b>"
    if wrap == 2:
        return f'<a href="/x">{surface}</a>'
    return surface


def _page(rng: random.Random, i: int, p: PagesProfile, entities, hubs, roots) -> tuple[str, str]:
    """One page. An English page tags exactly ``p.entities + 1`` entities:
    every planted surface maps to one canonical id, the picked ids are
    distinct, and any two planted items are kept apart by filler words
    that belong to no alias, so no match can span two of them."""
    n_words = rng.randint(*p.words)
    words = [rng.choice(_FILLER) for _ in range(n_words)]
    items = [_decorate(rng, rng.choice(surfaces)) for surfaces in rng.sample(entities, p.entities)]
    items.append(_decorate(rng, rng.choice(hubs)))
    if i % 5 == 0:
        items.append(rng.choice(roots))  # blocklisted: the tagger must drop it
    items += [rng.choice(["&amp;", "&#8212;", "&lt;x&gt;"]) for _ in range(2)]
    rng.shuffle(items)
    # distinct slots, filled from the back: a filler word stays between
    # any two items and on both ends
    for slot, item in zip(sorted(rng.sample(range(1, n_words), len(items)), reverse=True), items):
        words.insert(slot, item)
    paras, k = [], 0
    while k < len(words):
        j = min(len(words), k + rng.randint(15, 40))
        paras.append("<p>" + " ".join(words[k:j]) + "</p>")
        k = j
    title = " ".join(rng.choice(_FILLER) for _ in range(4))
    html = (
        f"<!DOCTYPE html><html><head><title>{title}</title>"
        "<style>body{margin:0}</style><script>var t=1;</script></head><body>"
        f"<h1>{title}</h1>\n" + "\n".join(paras) + "\n"
        '<div class="nav"><span>home</span><span>about</span></div></body></html>'
    )
    lang = rng.choice(_LANGS) if i % _NON_EN_EVERY == _NON_EN_EVERY - 1 else "en"
    return html, lang


def kg_tagged_rows(p: PagesProfile) -> int:
    """Mention rows the tagger emits for pages of profile ``p``: one per
    planted entity and hub on every English page."""
    return (p.n_docs - p.n_docs // _NON_EN_EVERY) * (p.entities + 1)


def kg_vocab_config(seed: int, p: PagesProfile):
    from ckg_spark.corpus.vocab import VocabConfig

    return VocabConfig(seed=derive(seed, "vocab"), terms_per_type=p.terms_per_type)


@functools.lru_cache(maxsize=1)
def _vocab(seed: int, terms_per_type: int):
    """The vocabulary, generated once for the pages and the warm-up pages."""
    from ckg_spark.corpus.vocab import VocabConfig, generate_vocab

    return generate_vocab(VocabConfig(seed=derive(seed, "vocab"), terms_per_type=terms_per_type))


def kg_pages(cache: str, name: str, seed: int, p: PagesProfile) -> str:
    """Path of the pages parquet ``(url, warc_ts, html, text, lang)`` for
    ``seed``; generated on first use."""
    path = os.path.join(_cache_dir(cache, name, seed, p), "pages")
    if os.path.isdir(path):
        return path
    vocab = _vocab(seed, p.terms_per_type)
    ids_of: dict[str, set[str]] = {}
    for a in vocab.aliases:
        ids_of.setdefault(a["alias"].lower().strip(), set()).add(a["canonical_id"])
    # surfaces that tag exactly one canonical id; near-duplicate twins (and
    # the terms they twin) merge in canon, so they are left out as well
    surfaces_of: dict[str, list[str]] = {}
    for a in vocab.aliases:
        if len(ids_of[a["alias"].lower().strip()]) == 1:
            surfaces_of.setdefault(a["canonical_id"], []).append(a["alias"])
    roots = {b["id"] for b in vocab.blocklist}
    hub_ids = set(vocab.hub_ids)
    twins = {t for pair in vocab.expected_merges for t in pair}
    entities = [s for cid, s in sorted(surfaces_of.items())
                if cid not in roots | hub_ids | twins]
    root_surfaces = [s for cid in sorted(roots) for s in surfaces_of.get(cid, [])]
    hubs = [s for cid in sorted(hub_ids) for s in surfaces_of.get(cid, [])]
    rng = random.Random(derive(seed, "pages"))
    rows = [_page(rng, i, p, entities, hubs, root_surfaces) for i in range(p.n_docs)]
    table = pa.table(
        {
            "url": [f"https://kg.example.org/{i:08d}" for i in range(p.n_docs)],
            "warc_ts": pa.array([(_EPOCH + 3600 * i) * 1_000_000 for i in range(p.n_docs)],
                                pa.timestamp("us")),
            "html": pa.array([h.encode() for h, _ in rows], pa.binary()),
            "text": pa.nulls(p.n_docs, pa.string()),
            "lang": [lang for _, lang in rows],
        }
    )
    _write(table, path)
    return path


# -- curation documents -----------------------------------------------------

_PROSE = (
    "the of and to in is that it was for on with as by at from this be are "
    "city council voted plan new school budget year residents said meeting "
    "local park road water project state officials public service report "
    "season team game players coach win final score fans league match "
    "market prices company shares growth rate bank investors quarter sales "
    "river bridge weather storm rain week forecast travel flights train "
    "museum art music festival film book author history library garden"
).split()
_PROSE_LANG = {
    "de": "der die das und ist ein zu mit von nicht stadt jahr".split(),
    "fr": "le la les et est un une dans que pour ville année".split(),
    "es": "el la los y es un una en que por ciudad año".split(),
}
# one 16-token chunk: span dedup tiles docs into 16-token windows, so a
# shared prefix of exactly one window repeats across the corpus
_BOILERPLATE = (
    "subscribe to our newsletter for the latest local news sports "
    "weather and events delivered every morning"
)


@dataclass(frozen=True)
class CurateProfile:
    n_base: int
    words: tuple[int, int]
    exact_share: float = 0.06     # byte-identical copies of a base doc
    near_share: float = 0.06      # copies with a few token edits
    recrawl_share: float = 0.04   # later captures of a base doc's url
    short_share: float = 0.04     # below the min-token quality gate
    boiler_share: float = 0.2     # docs opening with the boilerplate window
    pii_share: float = 0.1        # docs carrying an email / phone / ip
    pct_en: float = 0.9


def _prose(rng: random.Random, n: int, lang: str) -> list[str]:
    stock = _PROSE if lang == "en" else _PROSE_LANG[lang]
    return [rng.choice(stock) for _ in range(n)]


def curate_docs(cache: str, name: str, seed: int, p: CurateProfile) -> tuple[str, dict]:
    """Path of the documents parquet ``(doc_id, url, warc_ts, text, lang)``
    for ``seed`` plus the planted counts; generated on first use.

    Planted by construction: ``recrawls`` later captures of base urls (url
    variants the canonicalizer folds) that url dedup must remove, and
    ``exact_copies`` byte-identical copies of base docs that exact dedup
    must remove. Near copies, short docs, non-English docs, boilerplate and
    PII feed the later stages; their removal counts are recorded per seed."""
    root = _cache_dir(cache, name, seed, p)
    path = os.path.join(root, "docs")
    meta_path = os.path.join(root, "planted.json")
    if os.path.isdir(path):
        with open(meta_path) as f:
            return path, json.load(f)
    rng = random.Random(derive(seed, "docs"))
    docs: list[tuple[str, int, str, str]] = []  # (url, ts, text, lang)
    base_en: list[int] = []  # plain English base docs: copy sources
    for i in range(p.n_base):
        lang = "en" if rng.random() < p.pct_en else rng.choice(sorted(_PROSE_LANG))
        if rng.random() < p.short_share:
            text = " ".join(_prose(rng, rng.randint(2, 5), lang) + [f"item{i}"])
        else:
            toks = _prose(rng, rng.randint(*p.words), lang)
            if rng.random() < p.pii_share:
                toks.insert(rng.randint(0, len(toks)), rng.choice([
                    f"contact user{i}@mail.example.com",
                    f"call 555-{rng.randint(100, 999)}-{rng.randint(1000, 9999)}",
                    f"host 10.{rng.randint(0, 255)}.{rng.randint(0, 255)}.{rng.randint(1, 254)}",
                ]))
            boiler = lang == "en" and rng.random() < p.boiler_share
            text = (_BOILERPLATE + " " if boiler else "") + " ".join(toks)
            if lang == "en" and not boiler:
                base_en.append(i)
        docs.append((f"https://news.example.com/a/{i:07d}", _EPOCH + 60 * i, text, lang))
    n = p.n_base
    planted = {
        "base": n,
        "exact_copies": round(n * p.exact_share),
        "near_copies": round(n * p.near_share),
        "recrawls": round(n * p.recrawl_share),
    }
    for src in rng.sample(base_en, planted["exact_copies"]):
        docs.append((f"https://mirror.example.net/c/{len(docs):07d}", docs[src][1] + 7,
                     docs[src][2], "en"))
    for src in rng.sample(base_en, planted["near_copies"]):
        toks = docs[src][2].split()
        toks.insert(1, rng.choice(_PROSE))  # shifts every 16-token window
        for _ in range(2):
            toks[rng.randrange(len(toks))] = rng.choice(_PROSE)
        docs.append((f"https://mirror.example.net/n/{len(docs):07d}", docs[src][1] + 9,
                     " ".join(toks), "en"))
    for src in rng.sample(range(n), planted["recrawls"]):
        url = docs[src][0].replace("news.example.com", rng.choice(
            ["NEWS.EXAMPLE.COM", "news.example.com:443", "news.example.com"]))
        url += rng.choice(["", "#top", "?utm_source=feed"])
        text = " ".join(_prose(rng, rng.randint(*p.words), docs[src][3]))
        docs.append((url, docs[src][1] + 86_400, text, docs[src][3]))
    order = list(range(len(docs)))
    rng.shuffle(order)  # copies are not adjacent to their sources
    table = pa.table(
        {
            "doc_id": pa.array(range(len(docs)), pa.int64()),
            "url": [docs[k][0] for k in order],
            "warc_ts": pa.array([docs[k][1] * 1_000_000 for k in order], pa.timestamp("us")),
            "text": [docs[k][2] for k in order],
            "lang": [docs[k][3] for k in order],
        }
    )
    os.makedirs(root, exist_ok=True)
    with open(meta_path, "w") as f:
        json.dump(planted, f)
    _write(table, path)  # publishing the docs dir marks the entry complete
    return path, planted


# -- query tables -----------------------------------------------------------

# the word stock of the catalog's documents table; the KG queries tag it
# with the catalog's inline vocabulary (customer, hash join, merge, ...)
_DOC_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_PART_ADJ = ["small", "red", "blue", "hot", "cold", "green", "large", "steel"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "spring", "valve"]
_PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_DAY_US = 86_400 * 1_000_000


@dataclass(frozen=True)
class QueryProfile:
    n_part: int
    n_supp: int
    n_lineitem: int
    n_users: int
    n_events: int
    n_docs: int


def query_tables(cache: str, name: str, seed: int, p: QueryProfile) -> str:
    """Directory holding ``lineitem``, ``part``, ``events`` and
    ``documents`` as ``<table>.parquet``, in the columns and value domains
    of the catalog's TPC-H-like tables; generated on first use."""
    root = os.path.join(_cache_dir(cache, name, seed, p), "tables")
    if os.path.isdir(root):
        return root
    rng = random.Random(derive(seed, "tables"))
    tables = {}
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(p.n_part), pa.int64()),
        "p_name": [f"{rng.choice(_PART_ADJ)} {rng.choice(_PART_NOUN)}" for _ in range(p.n_part)],
        "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(p.n_part)],
        "p_type": [rng.choice(_PART_TYPES) for _ in range(p.n_part)],
        "p_size": pa.array([rng.randint(1, 50) for _ in range(p.n_part)], pa.int32()),
        "p_retailprice": [rng.randint(9000, 9999) / 10 for _ in range(p.n_part)],
    })
    # each part has 4 suppliers, as in TPC-H: the co-supply graph of the
    # graph queries is sparse
    suppliers = [rng.sample(range(p.n_supp), 4) for _ in range(p.n_part)]
    ship0 = 789_004_800 * 1_000_000  # 1995-01-02
    li = {k: [] for k in ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                          "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                          "l_linestatus", "l_shipdate"]}
    for i in range(p.n_lineitem):
        part = rng.randrange(p.n_part)
        qty = rng.randint(1, 50)
        li["l_orderkey"].append(i // 4)
        li["l_partkey"].append(part)
        li["l_suppkey"].append(rng.choice(suppliers[part]))
        li["l_linenumber"].append(i % 4 + 1)
        li["l_quantity"].append(float(qty))
        li["l_extendedprice"].append(round(qty * rng.uniform(900, 2100), 2))
        li["l_discount"].append(rng.randint(0, 10) / 100)
        li["l_tax"].append(rng.randint(0, 8) / 100)
        li["l_returnflag"].append(rng.choice("ANR"))
        li["l_linestatus"].append(rng.choice("FO"))
        li["l_shipdate"].append(ship0 + rng.randrange(2500) * _DAY_US)
    tables["lineitem"] = pa.table({
        **{k: pa.array(v, pa.int64()) for k, v in li.items()
           if k in ("l_orderkey", "l_partkey", "l_suppkey")},
        "l_linenumber": pa.array(li["l_linenumber"], pa.int32()),
        **{k: li[k] for k in ["l_quantity", "l_extendedprice", "l_discount", "l_tax",
                              "l_returnflag", "l_linestatus"]},
        "l_shipdate": pa.array(li["l_shipdate"], pa.timestamp("us")),
    })
    ev0 = 1_704_067_200 * 1_000_000  # 2024-01-01
    tables["events"] = pa.table({
        "event_id": pa.array(range(p.n_events), pa.int64()),
        "ts": pa.array([ev0 + rng.randrange(30 * _DAY_US) for _ in range(p.n_events)],
                       pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(p.n_users) for _ in range(p.n_events)], pa.int64()),
        "event_type": [rng.choice(_EVENT_TYPES) for _ in range(p.n_events)],
        "value": [round(0.01 + rng.expovariate(1 / 60), 2) for _ in range(p.n_events)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(p.n_events)],
    })
    texts = [" ".join(rng.choice(_DOC_WORDS) for _ in range(rng.randint(10, 99)))
             for _ in range(p.n_docs)]
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(p.n_docs), pa.int64()),
        "text": texts,
        "lang": ["en" if rng.random() < 0.6 else rng.choice(_LANGS) for _ in range(p.n_docs)],
        "source": [f"src{rng.randrange(20)}" for _ in range(p.n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)  # left by an interrupted run
    for tname, table in tables.items():
        _write(table, os.path.join(tmp, f"{tname}.parquet"))
    os.replace(tmp, root)
    return root
