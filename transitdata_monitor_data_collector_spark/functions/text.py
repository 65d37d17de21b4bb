"""Text-analysis functions for LLM-data pipelines (charter extension,
SURVEY.md §7 phase 6): token counting, quality scoring, language-ID
heuristic, document fingerprinting.

All pure Column expressions (JVM-side, codegen). Where the same logic must
run in the DuckDB oracle, the registry entries in plans/llm_data.py carry
the dialect-translated SQL; semantics are pinned here.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Whitespace tokenization — the pinned definition of a "token" for counting.
_WS = r"\s+"

# BPE-ish pre-tokenizer: letter runs, single digits, or single punctuation
# (mirrors the GPT-2 pre-tokenizer's coarse classes without the lookaheads,
# which RE2/DuckDB can't run).
BPE_ISH = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"

# Small marker vocabularies for the n-gram/stopword language heuristic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "is"],
    "fr": ["le", "la", "et", "les", "des", "un"],
    "de": ["der", "die", "und", "das", "ein", "nicht"],
    "es": ["el", "los", "y", "las", "una", "que"],
    "zh": ["的", "是", "了", "在", "我", "有"],
}
LANG_PREFERENCE = ["en", "fr", "de", "es", "zh"]  # deterministic tie-break

EN_STOPWORDS = ["the", "a", "an", "of", "and", "to", "in", "is", "it", "that"]


def tokens(text: Column) -> Column:
    return F.split(F.trim(text), _WS)


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def bpe_ish_count(text: Column) -> Column:
    return F.regexp_count(text, F.lit(BPE_ISH)).cast("long")


def marker_hits_tokens(toks: Column, markers: list[str]) -> Column:
    """How many elements of a pre-split token array are in the marker list."""
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(
        F.filter(toks, lambda t: F.array_contains(arr, F.lower(t)))
    ).cast("long")


def langid(text: Column) -> Column:
    """Greedy argmax over marker-hit scores, ties broken by LANG_PREFERENCE
    order. A real system would use character n-gram profiles; the operator
    shape (vectorized scoring + argmax) is what matters at scale.

    NOTE: the CASE references each language score several times, so this
    form re-derives ``split(trim(text))`` ~20x in the expression tree and
    leans on codegen subexpression elimination to stay cheap. Hot-path
    consumers should project :func:`tokens` once and call
    :func:`langid_tokens` on the attribute instead (the projection is not
    collapsed by Catalyst because ``split`` is non-cheap and
    multiply-referenced), making the one-split-per-row shape structural
    rather than CSE-dependent.
    """
    return langid_tokens(tokens(text))


def langid_tokens(toks: Column) -> Column:
    """:func:`langid` over a pre-split token array attribute — the same
    CASE, but every score references the cheap attribute, not a fresh
    ``split(trim(text))``."""
    scores = {lang: marker_hits_tokens(toks, m) for lang, m in LANG_MARKERS.items()}
    result = F.lit("und")
    # build CASE from lowest preference upward so earlier langs win ties
    for lang in reversed(LANG_PREFERENCE):
        cond = scores[lang] > 0
        for other in LANG_PREFERENCE:
            if other == lang:
                break
            cond = cond & (scores[lang] > scores[other])
        for other in LANG_PREFERENCE[LANG_PREFERENCE.index(lang) + 1 :]:
            cond = cond & (scores[lang] >= scores[other])
        result = F.when(cond, F.lit(lang)).otherwise(result)
    return result


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    p = F.length(text) - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    return F.when(n > 0, p.cast("double") / n).otherwise(F.lit(0.0))


def stopword_ratio_tokens(toks: Column) -> Column:
    tc = F.size(toks).cast("long")
    sw = marker_hits_tokens(toks, EN_STOPWORDS)
    return F.when(tc > 0, sw.cast("double") / tc).otherwise(F.lit(0.0))


def mean_token_len_tokens(toks: Column) -> Column:
    tc = F.size(toks).cast("long")
    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return F.when(tc > 0, total.cast("double") / tc).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Heuristic document quality in [0, 1]: favors mid-length docs with
    word-like tokens, low punctuation noise, some stopwords (prose-ness).

    Same projection note as :func:`langid` — hot paths should pre-split
    and call :func:`quality_score_tokens`."""
    return quality_score_tokens(text, tokens(text))


def quality_score_tokens(text: Column, toks: Column) -> Column:
    """:func:`quality_score` with the token array passed as an attribute
    (``text`` is still needed for the punctuation ratio, which is
    character- not token-based)."""
    tc = F.size(toks).cast("double")
    len_score = F.least(tc / 100.0, F.lit(1.0))
    mtl = mean_token_len_tokens(toks)
    shape_score = F.when((mtl >= 3.0) & (mtl <= 10.0), 1.0).otherwise(0.5)
    noise_score = 1.0 - F.least(punct_ratio(text) * 5.0, F.lit(1.0))
    prose_score = F.least(stopword_ratio_tokens(toks) * 4.0, F.lit(1.0))
    return F.round(
        0.3 * len_score + 0.2 * shape_score + 0.3 * noise_score + 0.2 * prose_score,
        6,
    )


def word_ngrams(text: Column, n: int) -> Column:
    """ALL word n-grams of lowercased text, duplicates preserved (unlike
    :func:`word_shingles`, which is the distinct SET for Jaccard)."""
    toks = tokens(F.lower(text))
    if n == 1:
        # unigrams ARE the token array — skip the interpreted per-element
        # rebuild (transform + element_at per token is ~10x the cost)
        return toks
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + k + 1) for k in range(n)]
        ),
    )


def dup_ngram_frac(text: Column, n: int = 1) -> Column:
    """Fraction of word n-gram occurrences that are repeats of an earlier
    occurrence (0 = all distinct, →1 = highly repetitive). The Gopher-rule
    style repetition signal, shuffle-free: per-row array arithmetic only."""
    g = word_ngrams(text, n)
    total = F.size(g)
    return F.when(
        total > 0,
        1.0 - F.size(F.array_distinct(g)).cast("double") / total,
    ).otherwise(F.lit(0.0))


def top_token_frac(text: Column) -> Column:
    """Fraction of tokens taken by the single most frequent token.

    Computed as the longest run in the SORTED token array — one
    ``array_sort`` plus one linear ``aggregate`` pass per row, shuffle-free
    (the explode → groupBy(doc, word) → max alternative would shuffle every
    token occurrence in the corpus)."""
    toks = F.array_sort(tokens(F.lower(text)))
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def _step(acc, t):
        run = F.when(t.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        return F.struct(
            t.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    best = F.aggregate(toks, init, _step, lambda acc: acc["best"])
    n = F.size(toks)
    return F.when(n > 0, best.cast("double") / n).otherwise(F.lit(0.0))


def content_fingerprint(text: Column) -> Column:
    """Normalization-stable content hash: lowercase, squeeze whitespace, md5."""
    return F.md5(F.lower(F.regexp_replace(text, _WS, " ")))


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-grams (the shingle set for Jaccard/MinHash).

    Shingles are built with n ``element_at`` probes per position instead of
    ``slice`` — higher-order array lambdas are interpreted (not codegen), so
    avoiding the per-shingle array allocation is ~8x faster at equal output.
    """
    toks = tokens(F.lower(text))
    # sequence(0, -1) would DESCEND in Spark — guard the short-doc case
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.array().cast("array<int>"))
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + k + 1) for k in range(n)]
            ),
        )
    )
