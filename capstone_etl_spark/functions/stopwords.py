"""Stopword side input (SURVEY.md §2.1 S3 / §2.2 P3).

The reference compiles a 667-entry stopword set into the binary
(reference main.go:301-969, including the bare "t" and the empty
string). The *mechanism* — a literal in-memory set applied as a
broadcast anti-join / NOT IN filter — is the operator; the contents are
configuration data. The default below is a standard English stopword
list; callers can pass any collection to the tokenizer instead.
"""

from __future__ import annotations

from collections.abc import Iterable

# Standard English stopwords (classic IR list), lowercase. Includes the
# reference's quirky entries "t" and "" (main.go:302-303) so the empty
# token produced by splitting is dropped by the same gate.
STOPWORDS: tuple[str, ...] = (
    "",
    "a", "about", "above", "after", "again", "against", "all", "am", "an",
    "and", "any", "are", "aren", "as", "at", "be", "because", "been",
    "before", "being", "below", "between", "both", "but", "by", "can",
    "cannot", "could", "couldn", "did", "didn", "do", "does", "doesn",
    "doing", "don", "down", "during", "each", "few", "for", "from",
    "further", "had", "hadn", "has", "hasn", "have", "haven", "having",
    "he", "her", "here", "hers", "herself", "him", "himself", "his",
    "how", "i", "if", "in", "into", "is", "isn", "it", "its", "itself",
    "just", "ll", "me", "mightn", "more", "most", "mustn", "my", "myself",
    "needn", "no", "nor", "not", "now", "o", "of", "off", "on", "once",
    "only", "or", "other", "our", "ours", "ourselves", "out", "over",
    "own", "re", "s", "same", "shan", "she", "should", "shouldn", "so",
    "some", "such", "t", "than", "that", "the", "their", "theirs", "them",
    "themselves", "then", "there", "these", "they", "this", "those",
    "through", "to", "too", "under", "until", "up", "ve", "very", "was",
    "wasn", "we", "were", "weren", "what", "when", "where", "which",
    "while", "who", "whom", "why", "will", "with", "won", "wouldn",
    "you", "your", "yours", "yourself", "yourselves",
)


# Two IN-list renderers, one per SQL dialect: the words are the same,
# the string-literal escaping is not. DuckDB reads a backslash as itself
# and only a quote needs escaping; Spark's parser reads a backslash as
# an escape ('a\b' is "a" + backspace there), so both need escaping.


def stopwords_sql_in_list(words: tuple[str, ...] = STOPWORDS) -> str:
    """Render the set as a DuckDB IN-list literal (the oracles' gate)."""
    return ", ".join("'" + w.replace("'", "''") + "'" for w in words)


def stopwords_spark_sql_in_list(words: Iterable[str]) -> str:
    """Render the set as a Spark SQL IN-list literal: backslash and quote
    are both backslash-escaped (backslash first), so any word survives
    the parser unchanged. The engine's gate compiles from this in one
    parse instead of one literal per word."""
    return ", ".join(
        "'" + w.replace("\\", "\\\\").replace("'", "\\'") + "'" for w in words
    )


# Reference-cardinality fixture (S3 at full size). The reference
# compiles a 667-entry table (main.go:301-969) sourced from a public
# stopword list (its own comment cites ranks.nl) plus "t" and "". We do
# NOT copy that table's content — the wordlist precedent
# (tools/gen_wordlist.py, FIXTURES.md) applies: the fixture below
# expands the classic-IR default with DETERMINISTIC derived variants to
# the exact reference cardinality, so the gate mechanism (IN-list /
# broadcast anti-join width, Zipf-head removal ahead of the shuffle)
# runs at reference scale while the content stays synthesized.
FULL_STOPWORD_COUNT = 667


def full_stopwords() -> tuple[str, ...]:
    """The 151 defaults + suffix-derived variants of the base words, in
    a fixed derivation order, truncated to FULL_STOPWORD_COUNT and
    sorted — deterministic, engine-neutral configuration data."""
    out = list(STOPWORDS)
    seen = set(out)
    for suffix in ("s", "ed", "ing", "ly", "er", "est", "ness", "ful"):
        for w in STOPWORDS:
            if not w or w in ("t",):
                continue
            cand = w + suffix
            if cand not in seen:
                seen.add(cand)
                out.append(cand)
            if len(out) == FULL_STOPWORD_COUNT:
                return tuple(sorted(out))
    raise AssertionError("derivation exhausted below FULL_STOPWORD_COUNT")
