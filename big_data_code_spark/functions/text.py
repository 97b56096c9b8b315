"""Text-analysis column functions for the LLM-data-pipeline operators.

Everything here is a JVM-side Column expression (no Python UDFs) so
it stays inside whole-stage codegen and scales to 100 TB document
tables. Tokenization / hashing choices are deliberately mirrored in
the DuckDB oracle SQL (`plans/llm.py`): ASCII-lowercase split on
``[^a-z0-9]+``, md5 hex strings for cross-engine-stable hashing.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: split pattern shared (verbatim) with the DuckDB oracles — valid in
#: both Java regex and RE2.
TOKEN_SPLIT_RE = "[^a-z0-9]+"

#: BPE-ish token pattern: word pieces, digit runs, single symbols.
#: RE2-safe (no lookarounds) so the oracle can use it verbatim.
BPE_TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

#: small per-language stopword lists for the language-ID heuristic.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "it", "you", "that"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ich", "ein", "zu", "mit"),
    "es": ("el", "los", "las", "es", "yo", "una", "que", "por", "con", "para"),
    "fr": ("le", "la", "les", "et", "est", "je", "un", "une", "dans", "pour"),
}


def tokenize(text: Column) -> Column:
    """Lowercase + split on non-alphanumeric runs, drop empties."""
    return F.filter(F.split(F.lower(text), TOKEN_SPLIT_RE), lambda t: t != "")


def word_shingles(tokens: Column, n: int = 3, distinct: bool = True) -> Column:
    """n-token shingles (space-joined), in document order; empty
    array if the document has fewer than ``n`` tokens.

    Built by zipping the token array with its own shifted slices:
    ``zip_with`` pads the shorter side with nulls and ``concat``
    null-propagates, so trailing partial shingles become null and
    are filtered. Crucially, every array child is evaluated ONCE per
    row — an ``element_at(tokens, i)``-in-lambda formulation invites
    Catalyst to inline the tokenize expression into the lambda and
    re-run it per element (O(L) tokenizes per row, ~20× slower at
    sf0.1).
    """
    cur = tokens
    for k in range(1, n):
        shifted = F.slice(tokens, k + 1, F.size(tokens))
        cur = F.zip_with(cur, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    made = F.filter(cur, lambda x: x.isNotNull())
    return F.array_distinct(made) if distinct else made


def stopword_hits(tokens: Column, lang: str = "en") -> Column:
    """Number of tokens that are stopwords of ``lang``."""
    stops = STOPWORDS[lang]
    stop_arr = F.array(*[F.lit(s) for s in stops])
    return F.size(F.filter(tokens, lambda t: F.array_contains(stop_arr, t)))


def punct_count(text: Column) -> Column:
    """ASCII punctuation characters in ``text`` (Java ``\\p{Punct}``
    == RE2 ``[[:punct:]]`` on ASCII input)."""
    return F.length(text) - F.length(F.regexp_replace(text, r"\p{Punct}", ""))


def bpe_token_count(text: Column) -> Column:
    """Count of BPE-ish tokens (see `BPE_TOKEN_RE`)."""
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(BPE_TOKEN_RE), F.lit(0)))
