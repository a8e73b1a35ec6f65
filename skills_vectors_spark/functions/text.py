"""Text-analysis column macros — tokenization, shingles, quality
features, language-ID scoring. All Catalyst built-ins (split,
regexp_*, transform, …): the hot path of a 100 TB document pipeline
must stay JVM-side; Python appears only in the clearly-marked mock
embedding / multimodal stubs.

Generalizes the reference's text handling (newline scrub before
embedding, /root/reference/create_skill_embeddings.py:12,16) into
the LLM-training-data operator family (BASELINE.json north star).

This module is the one statement of the tokenization rule every text
row shares with its DuckDB oracle (lower-case, collapse each whitespace
run to ' ', trim ' ', split on ' '): as Column macros, as ``DUCK_*``
oracle fragments, and as :func:`py_tokens` for Arrow passes. Whitespace
is RE2's ``\\s``, ``[ \\t\\n\\r\\f]``; Java's and Python's ``\\s`` also
match ``\\x0B``, so the Spark and Python sides spell the class out.

Non-ASCII case mapping is a cross-engine boundary, documented rather
than hidden. Spark (Java) and Python lower ``İ`` to ``i̇`` (i + U+0307)
and a word-final ``Σ`` to ``ς``; DuckDB lowers them to ``i`` and ``σ``.
Tokens, fingerprints and dedup keys of text holding such letters differ
between a row and its oracle, so that text is outside the oracle
parity contract. No corpus tier holds such letters.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_WS = r" \t\n\r\f"  # RE2's \s, in Java and Python regex syntax
_PY_WS_RUN = re.compile(f"[{_WS}]+")

# DuckDB twins of the macros below, over a `text` column (DuckDB's
# regexp_replace needs the 'g' flag; Spark's is global by default)
DUCK_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
DUCK_TOKENS = f"string_split({DUCK_NORM}, ' ')"
DUCK_BPE_COUNT = "CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT)"
DUCK_PUNCT_RATIO = "len(regexp_extract_all(text, '[^\\w\\s]'))::DOUBLE / greatest(length(text), 1)"


def normalize_text(c: Column | str) -> Column:
    """Lowercase, collapse whitespace, strip — canonical form for
    dedup/fingerprinting."""
    c = F.col(c) if isinstance(c, str) else c
    return F.trim(F.regexp_replace(F.lower(c), f"[{_WS}]+", " "))


def tokens(c: Column | str) -> Column:
    """Whitespace tokenization of normalized text -> array<string>."""
    return F.split(normalize_text(c), " ")


def py_tokens(text: str) -> list[str]:
    """:func:`tokens` of one non-NULL string. strip(' '), as str.strip()
    also eats Unicode whitespace that trim() keeps."""
    return _PY_WS_RUN.sub(" ", text.lower()).strip(" ").split(" ")


def content_md5(c: Column | str) -> Column:
    """The exact-dedup content key; DuckDB's is ``md5(DUCK_NORM)``."""
    return F.md5(normalize_text(c).cast("binary"))


def token_count(c: Column | str) -> Column:
    """Whitespace token count. Equivalent to ``size(tokens(c))`` —
    normalization collapses every whitespace run to one space and
    trims, so the split size equals the number of non-whitespace runs
    in the RAW text (with the empty/all-whitespace string mapping to
    size 1, hence the greatest). Counting matches directly skips the
    lower/replace/trim chain AND the token-array materialization the
    split form pays just to take its length — measured ~1.5-6x on the
    documents scan. NULL text stays NULL (greatest() would otherwise
    swallow the null and emit 1, diverging from len(split(...)))."""
    c = F.col(c) if isinstance(c, str) else c
    return (
        F.when(c.isNull(), F.lit(None))
        .otherwise(F.greatest(F.regexp_count(c, F.lit(f"[^{_WS}]+")), F.lit(1)))
        .cast("long")
    )


def bpe_ish_token_count(c: Column | str) -> Column:
    """BPE-flavored token estimate: count word-pieces + digits +
    punctuation as separate tokens (a common ~GPT-2 regex heuristic).
    Pure regexp_count — no tokenizer library needed."""
    c = F.col(c) if isinstance(c, str) else c
    return F.regexp_count(c, F.lit(f"[A-Za-z]+|[0-9]|[^A-Za-z0-9{_WS}]")).cast("long")


def word_shingles(c: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles -> array<string> (for MinHash/Jaccard).
    Scale note: arrays stay inside the row; no explode until the
    MinHash stage aggregates them away.

    NULL text -> NULL array (so a downstream explode emits nothing),
    matching the oracle's unnest-of-NULL. Without the guard,
    greatest() skips the NULL size and concat_ws swallows the NULL
    slice, silently producing [''] — which made every NULL-text
    document a jaccard-1.0 duplicate of every other one (found by the
    r13 NULL-corpus differential, SCALING.md)."""
    c = F.col(c) if isinstance(c, str) else c
    t = tokens(c)
    shingles = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(t) - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(t, i, n)),
    )
    return F.when(c.isNull(), F.lit(None).cast("array<string>")).otherwise(shingles)


STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "for", "it"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "se", "no"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "ein"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "une"],
}


def stopword_hits(c: Column | str, lang: str) -> Column:
    """How many tokens are stopwords of `lang` — the scoring core of
    the n-gram-heuristic language identifier."""
    t = tokens(c)
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(t, lambda x: F.array_contains(sw, x))).cast("long")


def punct_ratio(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return F.regexp_count(c, F.lit(f"[^\\w{_WS}]")).cast("double") / F.greatest(
        F.length(c).cast("double"), F.lit(1.0)
    )


def digit_ratio(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return F.regexp_count(c, F.lit(r"[0-9]")).cast("double") / F.greatest(
        F.length(c).cast("double"), F.lit(1.0)
    )
