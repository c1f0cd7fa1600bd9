"""Text-analysis operators for LLM-training-data pipelines.

Tokenization, quality scoring, language-ID heuristics, token
counting, and document fingerprinting — all as pure Column
expressions (JVM built-ins, zero Python in the hot path), per the
north-star operator set (SURVEY.md §2.2). The reference has no text
processing at all; these are the capability extension for 100 TB
document corpora.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# Small fixed stopword list used by the quality score. Deliberately
# tiny and hard-coded so the DuckDB oracle can embed the same list.
STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (the corpus is space-separated)."""
    return F.split(text, " ")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def distinct_token_count(text: Column | str) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def bpe_ish_token_count(text: Column | str) -> Column:
    """Token count under a BPE-ish regex: runs of word chars, runs of
    digits, or single non-space symbols — a cheap proxy for subword
    tokenizer counts, fully JVM-side via regexp_count."""
    return F.regexp_count(F.col(text) if isinstance(text, str) else text,
                          F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"))


def stopword_count(text: Column | str) -> Column:
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    return F.size(F.filter(tokens(text), lambda t: F.array_contains(stop, t)))


def quality_score(text: Column | str) -> Column:
    """Heuristic document quality in [0,1]: rewards moderate length,
    lexical diversity, and a natural stopword ratio. Mirrors the
    shape of published quality filters (e.g. Gopher rules): pure
    arithmetic over token stats, so it runs in codegen.
    """
    n = token_count(text).cast("double")
    uniq = distinct_token_count(text).cast("double")
    stop_ratio = stopword_count(text).cast("double") / n
    diversity = uniq / n
    length_score = F.least(n / F.lit(50.0), F.lit(1.0))
    stop_score = F.lit(1.0) - F.abs(stop_ratio - F.lit(0.06)) * 4
    return F.round(
        F.greatest(
            F.least((length_score + diversity + F.greatest(stop_score, F.lit(0.0))) / 3,
                    F.lit(1.0)),
            F.lit(0.0),
        ),
        6,
    )


def fingerprint(text: Column | str) -> Column:
    """Locality-insensitive document fingerprint: md5 of the sorted
    distinct token set. Two documents with identical vocabulary (any
    order / multiplicity) collide — the classic 'fingerprint
    clustering' key for near-dup candidate generation, expressible in
    any SQL engine (sorted-set md5), so it's oracle-checkable."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(text)))))


def winnowing_fingerprints(text: Column | str, k: int = 4, window: int = 5) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken):
    hash every word k-gram (the md5_bucket idiom: first 8 md5 hex
    digits as a 32-bit value), then keep the minimum hash of each
    sliding window of `window` consecutive gram hashes. Guarantees
    any shared substring of ≥ k+window-1 words yields a shared
    fingerprint — the classic plagiarism/near-dup detection key set.

    Pure column algebra: sequence + transform for the grams, a second
    sequence + transform + array_min for the window minima,
    array_distinct for the final set. No explode, no Python.

    This is the REFERENCE form that the registry's
    winnowing_fingerprint_rows is tested against: the nested lambda
    re-evaluates the gram array (and the token split) once per window
    element at runtime — CollapseProject inlines the
    singly-referenced inner transform, and higher-order functions
    don't codegen. Fine for unit tests and single documents; at
    corpus scale use winnowing_fingerprint_rows below (identical
    fingerprint sets, property-tested; 745 s → ~6 s at sf0.1)."""
    toks = F.split(F.col(text) if isinstance(text, str) else text, " ")
    n = F.size(toks)
    # slice() tolerates running past the end (returns the shorter
    # tail), so a document with fewer than k tokens yields one
    # whole-text gram — the case an element_at form errors on
    # (INVALID_ARRAY_INDEX), and the semantics the DuckDB oracle has
    # (out-of-range list index → NULL, concat_ws skips it).
    gram = lambda i: F.conv(  # noqa: E731
        F.substring(F.md5(F.concat_ws(" ", F.slice(toks, i + 1, k))), 1, 8),
        16,
        10,
    ).cast("bigint")
    n_grams = F.greatest(n - k + 1, F.lit(1))
    hashes = F.transform(F.sequence(F.lit(0), n_grams - 1), gram)
    n_windows = F.greatest(n_grams - window + 1, F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), n_windows - 1),
            lambda w: F.array_min(F.slice(hashes, w + 1, window)),
        )
    )


def lang_id(text: Column | str) -> Column:
    """Deterministic character-class language heuristic.

    Real systems use fastText/CLD3; neither ships in this container,
    so this is the honest declarative stand-in: CJK codepoints → zh,
    character markers for es/fr/de, else en. Returns 'en' for the
    ASCII word-soup fixture. The point is the operator shape — a
    cheap, branchy codegen expression that scales linearly and can
    gate a corpus before expensive downstream ops."""
    txt = F.col(text) if isinstance(text, str) else text
    return (
        F.when(txt.rlike("[一-鿿]"), "zh")
        .when(txt.rlike("[¿¡ñ]"), "es")
        .when(txt.rlike("[àâçéèêëîïôùûœ]"), "fr")
        .when(txt.rlike("[äöüß]"), "de")
        .otherwise("en")
    )


def winnowing_fingerprint_rows(
    df,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    window: int = 5,
):
    """Winnowing fingerprints as ROWS — the scale path of
    `winnowing_fingerprints` (same algorithm, same md5 gram hash, same
    output set, equality property-tested): returns (id_col, fp) with
    one row per distinct selected fingerprint per document.

    WHY this form exists (the 745-second lesson): the
    column-expression form nests the gram-hash array inside the
    window-min lambda, and Catalyst's CollapseProject counts that as
    a SINGLE reference — so it inlines it, and at runtime the full
    gram array (including the token split) re-evaluates once PER
    WINDOW ELEMENT: O(windows × grams × k) re-hashing per row,
    ~800 interpreted re-evaluations of the split+hash tree for a
    30-token document. Measured at sf0.1: 745 s for 5,000
    documents.

    This form hashes each gram EXACTLY ONCE: grams explode to rows,
    each gram row fans out to the ≤ `window` sliding windows it
    participates in (a bounded second explode), and the window minima
    are one (id, window_pos) hash aggregate followed by a distinct —
    map-side-combinable shuffles keyed by document, no lambdas over
    lambdas, no single-task step. Same query at sf0.1: ~2 s.
    """
    toks = F.split(F.col(text), " ")
    n = F.size(toks)
    n_grams = F.greatest(n - k + 1, F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(0), n_grams - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
    )
    g = df.select(
        F.col(id_col),
        (n_grams - F.lit(window) + 1).alias("_nw"),
        F.posexplode(grams).alias("_pos", "_gram"),
    )
    h = F.conv(F.substring(F.md5("_gram"), 1, 8), 16, 10).cast("bigint")
    # fan each gram hash out to the sliding windows it belongs to:
    # wpos ∈ [max(0, pos-window+1), min(pos, n_windows-1)]
    wpos = F.explode(
        F.sequence(
            F.greatest(F.col("_pos") - F.lit(window - 1), F.lit(0)),
            F.least(F.col("_pos"), F.greatest(F.col("_nw") - 1, F.lit(0))),
        )
    )
    return (
        g.select(F.col(id_col), h.alias("_h"), wpos.alias("_w"))
        .groupBy(id_col, "_w")
        .agg(F.min("_h").alias("fp"))
        .select(id_col, "fp")
        .distinct()
    )
