"""Text-analysis operators for large-scale training-data pipelines.

All hot-path expressions are JVM-side column expressions (whole-stage
codegen, no Python), deliberately restricted to regex constructs whose
semantics agree between Spark (Java regex) and DuckDB (RE2) so each operator
has an exact SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# Small english stopword core used by the language-ID / quality heuristics.
EN_STOPWORDS = (
    "the", "of", "and", "to", "in", "is", "that", "for", "it", "as",
    "was", "with", "be", "by", "on", "not", "he", "this", "are", "or",
)


def token_count(text: Column) -> Column:
    """Whitespace token count (single-space split; empty tokens counted, so
    the Spark and SQL oracles agree exactly)."""
    return F.size(F.split(text, " "))


# BPE-ish pre-tokenizer classes: letter runs, digit runs, single
# non-alnum-non-space marks — the engine-portable core of GPT-style
# pre-tokenization (contraction splits etc. need lookarounds and stay in
# pandas UDFs if ever required).
BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def bpe_ish_token_count(text: Column) -> Column:
    """Subword-ish token count: letter runs + digit runs + punctuation marks
    counted separately (a cheap, portable stand-in for a BPE pre-tokenizer;
    correlates with real tokenizer counts far better than whitespace
    splitting on code/math-heavy text)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), F.lit(0)))


def alpha_ratio(text: Column) -> Column:
    """Alphabetic-character ratio (F2 analog as a pure column expr)."""
    return F.length(F.regexp_replace(text, "[^A-Za-z]", "")) / F.length(text)


def stopword_ratio(text: Column) -> Column:
    stop_array = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    words = F.split(F.lower(text), " ")
    return F.size(F.filter(words, lambda w: F.array_contains(stop_array, w))) / F.size(words)


def quality_score(text: Column) -> Column:
    """Composite quality heuristic in [0, ~2]: alpha ratio + stopword signal
    + length gate, as one codegen'd expression."""
    return (
        alpha_ratio(text)
        + stopword_ratio(text) * 2
        + F.when(F.length(text) >= 150, F.lit(0.25)).otherwise(F.lit(0.0))
    )


def predict_lang(text: Column) -> Column:
    """Stopword-ratio language ID: 'en' when common-english density clears
    the threshold, else 'other'.  (N-gram models plug in the same way; the
    operator contract is the column expression.)"""
    return F.when(stopword_ratio(text) >= 0.08, F.lit("en")).otherwise(F.lit("other"))


# Highest-frequency english character bigrams (public frequency tables).
EN_BIGRAMS = ("th", "he", "in", "er", "an", "re", "on", "at", "en", "nd")


def lang_bigram_score(text: Column) -> Column:
    """Character-n-gram language signal: density of top english bigrams per
    character (non-overlapping counts — identical semantics in Spark and
    DuckDB ``regexp_count``).  Combine with ``stopword_ratio`` for a
    two-signal language ID; n-gram profiles for other languages slot in as
    more bigram tuples."""
    total = F.lit(0)
    for bg in EN_BIGRAMS:
        total = total + F.regexp_count(F.lower(text), F.lit(bg))
    return total / F.length(text)


def predict_lang_ngram(text: Column, threshold: float = 0.05) -> Column:
    """N-gram language ID: english when the bigram-profile density clears
    the threshold."""
    return F.when(lang_bigram_score(text) >= threshold, F.lit("en")).otherwise(
        F.lit("other")
    )


def normalized_text(text: Column) -> Column:
    """Lower-cased, whitespace-collapsed, trimmed text — the dedup
    operators' one normalisation, identical in Spark and DuckDB."""
    return F.trim(F.regexp_replace(F.lower(text), "\\s+", " "))


def normalized_fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of ``normalized_text``.  Exact-dedup key."""
    return F.md5(normalized_text(text))


def remove_unknown_words(
    docs: DataFrame,
    vocabulary: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    word_col: str = "word",
) -> DataFrame:
    """F7 spellcheck-filter analog (``remove_misspelled_words``,
    static_method_classes.py:135-143): drop words not present in a dictionary
    table, preserving word order.

    The reference consults a SpellChecker lexicon per word; the distributed
    shape is explode → broadcast left-semi join against the dictionary →
    in-order reassembly (``array_sort(collect_list(struct(pos, word)))``).
    Dictionaries broadcast (a few MB); corpus text never shuffles twice.
    """
    words = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "w"),
    )
    kept = words.join(
        F.broadcast(vocabulary.select(F.col(word_col).alias("w"))),
        on="w",
        how="left_semi",
    )
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))), lambda s: s["w"]
            ),
            " ",
        ).alias("filtered_text")
    )


def corpus_vocabulary(
    docs: DataFrame, text_col: str = "text", min_count: int = 2
) -> DataFrame:
    """Corpus-frequency dictionary: words seen at least ``min_count`` times —
    the data-derived lexicon that stands in for the reference's SpellChecker
    word list at corpus scale (rare tokens ≈ OCR garbage)."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= min_count)
        .select("word")
    )


def profile_documents(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One narrow pass computing the full text-analysis profile."""
    t = F.col(text_col)
    return docs.select(
        "*",
        token_count(t).alias("n_tokens"),
        F.round(alpha_ratio(t), 4).alias("alpha_ratio"),
        F.round(quality_score(t), 4).alias("quality"),
        predict_lang(t).alias("lang_pred"),
        normalized_fingerprint(t).alias("fingerprint"),
    )
