"""Text-analysis primitives: language-ID heuristic + rolling-hash
fingerprint (north-star operators for training-data curation).

Everything here is built-in column expressions with DuckDB-identical
semantics so the queries stay oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Marker stopwords per language — the classic cheap language-ID
# heuristic for web text (function-word hit counting). Tie-break is the
# list order below (first language with the max score wins).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is", "to", "in", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "es": ("el", "los", "las", "y", "es", "que", "un", "una"),
    "fr": ("le", "les", "et", "est", "que", "une", "des", "du"),
    "zh": ("de", "shi", "bu", "le", "zai", "you", "wo", "ta"),
}

ROLLING_BASE = 131
ROLLING_MOD = 1_000_000_007


def language_scores(words: Column) -> dict[str, Column]:
    """Marker-hit count per language over a words-array column."""

    def matcher(markers: tuple[str, ...]):
        # ONE-argument lambda on purpose: a second (defaulted) parameter
        # would make F.filter pass the element index into it.
        return lambda w: w.isin(*markers)

    return {
        lang: F.size(F.filter(words, matcher(markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def language_id(words: Column) -> Column:
    """Predicted language: argmax marker hits, ties broken by the fixed
    LANG_MARKERS order. On corpora without function words (e.g. this
    repo's synthetic shared-vocabulary testdata) predictions collapse
    toward the first list entry — a property of the data; the operator
    is the standard heuristic and the confusion-matrix query makes the
    degeneracy visible instead of hiding it."""
    scores = language_scores(words)
    best = F.greatest(*scores.values())
    expr = F.lit(None).cast("string")
    for lang in reversed(list(LANG_MARKERS)):
        expr = F.when(scores[lang] == best, F.lit(lang)).otherwise(expr)
    return expr


def content_fingerprint(text: Column | str) -> Column:
    """Normalized-content md5: whitespace runs collapsed to one space,
    lower-cased, hashed — the one definition of "duplicate" shared by
    the batch and streaming exact-dedup operators. The explicit
    whitespace class keeps it engine-identical: Java ``\\s`` includes
    ``\\x0B`` but RE2's does not, so DuckDB replays the same class."""
    return F.md5(F.lower(F.regexp_replace(text, r"[ \t\n\r\f\x0B]+", " ")))


def rolling_hash(text: Column) -> Column:
    """Polynomial rolling hash over character codes:
    ``acc = (acc*131 + ascii(ch)) % 1e9+7`` — the classic Rabin-Karp
    document fingerprint. Engine-portable: DuckDB replays it with
    list_reduce over the same codes (see the oracle SQL)."""
    chars = F.split(text, "")
    return F.aggregate(
        F.transform(chars, F.ascii),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * ROLLING_BASE + x) % ROLLING_MOD,
    )


# ---------------------------------------------------------------------------
# PII scrubbing (training-data redaction). Patterns use only constructs
# with identical semantics in Java regex (Spark) and RE2 (DuckDB):
# explicit character classes, no \d/\s/\b shorthands (SURVEY §7.2 /
# the \x0B divergence note in queries/extensions.py).
# ---------------------------------------------------------------------------
PII_PATTERNS: dict[str, tuple[str, str]] = {
    # kind -> (pattern, replacement token)
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]+", "<EMAIL>"),
    "phone": (r"[+]?[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
    "ipv4": (r"[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}", "<IP>"),
}


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-kind PII match counts (JVM-side regexp_extract_all)."""
    return {
        kind: F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0)))
        for kind, (pat, _) in PII_PATTERNS.items()
    }


def scrub_pii(text: Column) -> Column:
    """Redact every PII pattern with its token — the pre-training
    scrubbing pass. Order matters: emails first (an email contains no
    phone/IP match for these patterns, but scrubbing IPs before emails
    could split a hostname-shaped address)."""
    out = text
    for _, (pat, token) in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, token)
    return out
