"""Text analysis operators: language ID, quality scoring, token counting,
document fingerprinting. All JVM-side built-ins (whole-stage codegen) —
no Python in the hot path — so every expression here is also expressible
as ANSI SQL for the DuckDB correctness oracle.

These generalize the reference's per-row string munging (lowercasing
/root/reference src/graphdb_connector/mapping.py:67, split/strip/join and
regex extraction inventoried in SURVEY.md §2.7) into corpus-level
quality/statistics operators a training-data pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword profiles for the n-gram/stopword heuristic
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "was"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "mit", "von", "nicht"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "en", "que", "por"],
}


def stopword_profile(lang: str | None) -> list[str]:
    """The stopword list a quality statistic scores against. ``None`` is
    the multilingual profile — the sorted union of every per-language
    list — for corpora that keep all languages (curate's ``lang=None``
    contract: scoring such a corpus against English-only stopwords
    zeroes stopword_ratio for every non-English document and silently
    fails any quality threshold above the punctuation term alone).
    Unknown language codes raise (fail loudly; callers that accept
    arbitrary codes map them to ``None`` first)."""
    if lang is None:
        return sorted({w for ws in STOPWORDS.values() for w in ws})
    return STOPWORDS[lang]


def tokens_col(text_col: Column) -> Column:
    """Whitespace tokenization of lowercased text (empty-safe)."""
    return F.filter(F.split(F.lower(text_col), r"\s+"), lambda t: t != F.lit(""))


def token_count(text_col: Column) -> Column:
    return F.size(tokens_col(text_col))


def stopword_ratio(text_col: Column, lang: str | None = "en") -> Column:
    words = stopword_profile(lang)
    toks = tokens_col(text_col)
    hits = F.size(F.filter(toks, lambda t: t.isin(words)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def punct_ratio(text_col: Column) -> Column:
    no_punct = F.regexp_replace(text_col, r"[^\w\s]", "")
    return (F.length(text_col) - F.length(no_punct)) / F.greatest(
        F.length(text_col), F.lit(1)
    )


def mean_word_len(text_col: Column) -> Column:
    toks = tokens_col(text_col)
    total = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda acc, x: acc + x
    )
    return total / F.greatest(F.size(toks), F.lit(1))


def quality_score(text_col: Column, lang: str | None = "en") -> Column:
    """Composite quality in [0,1]-ish: rewards stopword presence and sane
    word lengths, penalizes punctuation soup. Deterministic column math.
    The reference spelling: ``with_quality_stats`` and ``quality_keep``
    are tested row for row against it."""
    return F.round(
        F.lit(0.5) * stopword_ratio(text_col, lang)
        + F.lit(0.5) * (F.lit(1.0) - punct_ratio(text_col))
        - F.when(mean_word_len(text_col) > 12, 0.25).otherwise(0.0),
        6,
    )


def with_quality_stats(
    df: DataFrame,
    text_col: str = "text",
    lang: str | None = "en",
    n_tokens_col: str = "n_tokens",
    quality_col: str = "quality",
    extras: bool = False,
) -> DataFrame:
    """Adds ``n_tokens`` + ``quality`` (and with ``extras`` also rounded
    ``punct_ratio``/``stopword_ratio``) in ONE tokenization pass.

    The Column-expression spellings (`token_count(t)`, `quality_score(t, lang)`)
    re-evaluate the tokenizing regex split per use: higher-order functions
    are interpreted (no whole-stage-codegen subexpression elimination), so
    a projection combining them splits the text ~7x per row — measured at
    3.4x the stage CPU of this single-pass shape on the 120k-doc curation
    corpus. Projecting the token array into a real column first (the
    HOF-CSE rule from BENCH.md's optimization log) makes every statistic
    read one materialized array. Values are bit-identical to the Column
    versions — the arithmetic and rounding order are unchanged.
    """
    t = F.col(text_col)
    words = stopword_profile(lang)
    toks, n_c, hits_c, wl_c = "__qs_toks", "__qs_n", "__qs_hits", "__qs_wl"
    out = df.withColumn(toks, tokens_col(t))
    tk = F.col(toks)
    out = (
        out.withColumn(n_c, F.size(tk))
        .withColumn(hits_c, F.size(F.filter(tk, lambda x: x.isin(words))))
        .withColumn(
            wl_c, F.aggregate(F.transform(tk, F.length), F.lit(0), lambda a, x: a + x)
        )
    )
    denom = F.greatest(F.col(n_c), F.lit(1))
    stop_ratio = F.col(hits_c) / denom
    mwl = F.col(wl_c) / denom
    pr = punct_ratio(t)  # length math only — no tokenization
    quality = F.round(
        F.lit(0.5) * stop_ratio
        + F.lit(0.5) * (F.lit(1.0) - pr)
        - F.when(mwl > 12, 0.25).otherwise(0.0),
        6,
    )
    out = out.withColumn(n_tokens_col, F.col(n_c)).withColumn(quality_col, quality)
    if extras:
        out = out.withColumn("punct_ratio", F.round(pr, 6)).withColumn(
            "stopword_ratio", F.round(stop_ratio, 6)
        )
    return out.drop(toks, n_c, hits_c, wl_c)


def quality_keep(
    text_col: Column, min_tokens: int, min_quality: float, lang: str | None = "en"
) -> Column:
    """One-pass keep predicate, row-for-row equal to
    ``(token_count(t) >= min_tokens) & (quality_score(t, lang) >= min_quality)``.

    A predicate spelled over projected stats columns gets alias-substituted
    and pushed below the projection by Catalyst (PushPredicateThroughNonJoin
    has no cost model), so the pushed filter re-tokenizes the text ~5x per
    input row. This spelling folds tokenize + count + stopword hits + word
    lengths into ONE ``F.aggregate`` whose finish lambda emits the boolean —
    a single split + single array pass per row wherever the optimizer moves
    it. Arithmetic and rounding match quality_score exactly.
    """
    words = stopword_profile(lang)
    toks = tokens_col(text_col)
    zero = F.struct(
        F.lit(0).alias("n"), F.lit(0).alias("hits"), F.lit(0).alias("wl")
    )

    def merge(acc: Column, x: Column) -> Column:
        return F.struct(
            (acc["n"] + F.lit(1)).alias("n"),
            (acc["hits"] + F.when(x.isin(words), 1).otherwise(0)).alias("hits"),
            (acc["wl"] + F.length(x)).alias("wl"),
        )

    pr = punct_ratio(text_col)  # length math only — evaluated once in finish

    def finish(acc: Column) -> Column:
        denom = F.greatest(acc["n"], F.lit(1))
        q = F.round(
            F.lit(0.5) * (acc["hits"] / denom)
            + F.lit(0.5) * (F.lit(1.0) - pr)
            - F.when((acc["wl"] / denom) > 12, 0.25).otherwise(0.0),
            6,
        )
        return (acc["n"] >= F.lit(min_tokens)) & (q >= F.lit(min_quality))

    return F.aggregate(toks, zero, merge, finish)


def langid_scores(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stopword-profile language ID: per-language hit ratios + argmax.
    (doc_id, score_en, score_de, score_fr, score_es, pred_lang).
    Ties break alphabetically — fully deterministic. Tokenizes ONCE —
    the per-language Column spelling re-split the text 8x per row
    (interpreted HOFs get no codegen CSE)."""
    toks = "__li_toks"
    out = docs.select(
        F.col(id_col), tokens_col(F.col(text_col)).alias(toks)
    )
    tk = F.col(toks)
    denom = F.greatest(F.size(tk), F.lit(1))
    def _hit_filter(words):  # factory: a 2-arg lambda would be (elem, INDEX)
        return lambda t: t.isin(words)

    score_cols = []
    for lang in sorted(STOPWORDS):
        hits = F.size(F.filter(tk, _hit_filter(STOPWORDS[lang])))
        score_cols.append(F.round(hits / denom, 6).alias(f"score_{lang}"))
    scored = out.select(id_col, *score_cols)
    langs = sorted(STOPWORDS)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.coalesce(
        *[F.when(F.col(f"score_{lang}") == best, F.lit(lang)) for lang in langs]
    )
    return scored.withColumn("pred_lang", pred)


def normalized_token_stream(text_col: Column) -> Column:
    """Lowercased, punctuation-stripped, single-spaced token stream —
    the pre-image of :func:`fingerprint`. Empty string when the doc has
    no [a-z0-9] tokens (callers that must distinguish 'no content
    evidence' — e.g. ingest dedup — test for that before hashing)."""
    return F.array_join(
        F.filter(
            F.split(F.regexp_replace(F.lower(text_col), r"[^a-z0-9\s]", " "), r"\s+"),
            lambda t: t != F.lit(""),
        ),
        " ",
    )


def fingerprint(text_col: Column) -> Column:
    """Canonical content fingerprint: md5 of the normalized token stream
    (lowercase, punctuation stripped, single-spaced). Stable under
    whitespace/case/punctuation noise — the key for exact-dedup at scale."""
    return F.md5(normalized_token_stream(text_col))


def doc_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One row per doc: tokens, chars, punct/stopword ratios, quality,
    fingerprint. Single narrow projection — no shuffle; tokenizes once
    (with_quality_stats), not once per statistic."""
    t = F.col(text_col)
    return with_quality_stats(
        docs.select(F.col(id_col), F.col(text_col)), text_col, extras=True
    ).select(
        F.col(id_col),
        "n_tokens",
        F.length(t).alias("n_chars"),
        "punct_ratio",
        "stopword_ratio",
        "quality",
        fingerprint(t).alias("fingerprint"),
    )


def _longest_run(sorted_arr: Column) -> Column:
    """Length of the longest run of equal adjacent elements in a SORTED
    array == the max frequency of any element — a map-side fold, so top-
    token frequency never needs an explode + corpus-wide groupBy shuffle.
    Works on any array<string> column (pass a projected column, not a
    computed expression — HOF lambdas re-evaluate their inputs)."""
    init = F.struct(
        F.lit(0).alias("best"),
        F.lit(0).alias("run"),
        F.lit(None).cast("string").alias("prev"),
    )

    def step(acc: Column, t: Column) -> Column:
        new_run = F.when(t == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            F.greatest(acc["best"], new_run).alias("best"),
            new_run.alias("run"),
            t.alias("prev"),
        )

    return F.aggregate(sorted_arr, init, step, lambda acc: acc["best"])


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition/quality signals per document (token-level
    variants of the Rae et al. 2021 repetition filters): top-token
    fraction, top-bigram fraction, duplicate-bigram and duplicate-trigram
    fractions, plus a composite ``repetitive`` flag.

    Everything is per-row array math inside whole-stage codegen — n-grams
    are built with index lambdas over PROJECTED token columns (one-param
    lambdas only: a two-param array lambda is called as (element, index),
    the round-1 MinHash trap), max-frequency comes from the sorted-run
    fold (no explode, no shuffle), so the operator is a single narrow
    projection at any corpus size."""
    t = F.col(text_col)
    toks = docs.select(F.col(id_col), tokens_col(t).alias("__toks__"))
    n = F.size(F.col("__toks__"))
    with_grams = toks.select(
        id_col,
        "__toks__",
        n.alias("__n__"),
        F.array_sort("__toks__").alias("__st__"),
        F.when(
            n >= 2,
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(F.col("__toks__"), i),
                    F.element_at(F.col("__toks__"), i + 1),
                ),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("__bg__"),
        F.when(
            n >= 3,
            F.transform(
                F.sequence(F.lit(1), n - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(F.col("__toks__"), i),
                    F.element_at(F.col("__toks__"), i + 1),
                    F.element_at(F.col("__toks__"), i + 2),
                ),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("__tg__"),
    )
    base = with_grams.select(
        id_col,
        "__n__",
        "__st__",
        F.array_sort("__bg__").alias("__sbg__"),
        F.size("__bg__").alias("__nbg__"),
        F.size(F.array_distinct("__bg__")).alias("__dbg__"),
        F.size("__tg__").alias("__ntg__"),
        F.size(F.array_distinct("__tg__")).alias("__dtg__"),
    )
    nd = F.col("__n__").cast("double")
    top_word = _longest_run(F.col("__st__")) / F.greatest(nd, F.lit(1.0))
    top_bigram = _longest_run(F.col("__sbg__")) / F.greatest(
        F.col("__nbg__").cast("double"), F.lit(1.0)
    )
    dup_bigram = F.lit(1.0) - F.col("__dbg__") / F.greatest(
        F.col("__nbg__").cast("double"), F.lit(1.0)
    )
    dup_trigram = F.lit(1.0) - F.col("__dtg__") / F.greatest(
        F.col("__ntg__").cast("double"), F.lit(1.0)
    )
    out = base.select(
        id_col,
        F.col("__n__").cast("bigint").alias("n_tokens"),
        F.round(top_word, 6).alias("top_word_frac"),
        F.round(top_bigram, 6).alias("top_bigram_frac"),
        F.round(dup_bigram, 6).alias("dup_bigram_frac"),
        F.round(dup_trigram, 6).alias("dup_trigram_frac"),
    )
    repetitive = (
        (F.col("top_word_frac") > 0.20)
        | (F.col("top_bigram_frac") > 0.18)
        | (F.col("dup_trigram_frac") > 0.30)
    )
    return out.withColumn(
        "repetitive", F.when(repetitive, 1).otherwise(0).cast("int")
    )
