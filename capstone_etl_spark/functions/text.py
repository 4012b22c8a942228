"""Text column functions (SURVEY.md §2.7 F1-F6).

Every function here is a *Column expression builder* — pure JVM-side
Catalyst expressions, inside whole-stage codegen, no Python UDFs. These
are the building blocks the tokenize/hierarchy operators compose.

Reference parity notes (file:line cites are into /root/reference):
- clean_text: byte-class DELETION, not space substitution — the
  reference's `clean` (main.go:285-297) removes every byte outside
  [a-zA-Z0-9 ], so "line1\nline2" becomes the single token
  "line1line2". We replicate exactly; `clean_text_spaced` is the
  deliberately-divergent quality-better variant (SURVEY.md §7.6.1).
- tokenize: lowercase then split on space runs, dropping empties —
  `strings.Fields` semantics (main.go:247).
- count_substring: raw substring occurrence count, the external-link
  counter `strings.Count(body_html, 'href="h')` (main.go:192).
- page_loc / parent_path: URL-path derivations feeding the hierarchy
  self-join (main.go:194-195).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Matches the reference's kept-byte class exactly (main.go:288-293).
_NON_ALNUM_SPACE = r"[^a-zA-Z0-9 ]"


def clean_text(col: Column | str) -> Column:
    """Delete every char outside [a-zA-Z0-9 ] (parity semantics)."""
    return F.regexp_replace(col, _NON_ALNUM_SPACE, "")


def clean_text_spaced(col: Column | str) -> Column:
    """Divergent variant: replace junk with spaces (better token quality;
    documented divergence, SURVEY.md §7.6.1)."""
    return F.regexp_replace(col, _NON_ALNUM_SPACE, " ")


def tokenize(col: Column | str) -> Column:
    """array<string> of lowercase tokens; split on space runs, no empties
    (strings.Fields semantics, main.go:247). Empty input → empty array.

    No per-element filter: clean_text deletes every non-[a-zA-Z0-9 ]
    char (tabs/newlines included), so after trim the only space left is
    the separator — splitting a NON-empty trimmed string on " +" cannot
    produce an empty token (no leading/trailing space, runs merged).
    The lone empty case is the empty string (split("") → [""]), handled
    by one string comparison. The previous F.filter(arr, t -> t != "")
    was an interpreted higher-order fold over every token of every
    document — measured 4x the cost of the whole tokenize pipeline."""
    trimmed = F.trim(F.lower(clean_text(col)))
    return F.when(
        trimmed == "", F.array().cast("array<string>")
    ).otherwise(F.split(trimmed, " +"))


def split_sql(col: str = "text") -> str:
    """DuckDB fragment: clean, lowercase, trim, split on space runs. An
    input that cleans to empty yields [''], not []; `tokenize_sql` drops
    that lone empty token."""
    return f"string_split_regex(trim(lower(regexp_replace({col}, '[^a-zA-Z0-9 ]', '', 'g'))), ' +')"


def tokenize_sql(col: str = "text") -> str:
    """Same tokens as `tokenize`, DuckDB SQL fragment."""
    return f"list_filter({split_sql(col)}, t -> t <> '')"


def token_ngrams(toks: Column | str, n: int) -> Column:
    """array<string> of space-joined token n-grams, in position order;
    fewer than n tokens → empty array.

    Built as a chain of n-1 zip_with concats over shifted slices of the
    token array — one column-level slice per OFFSET (n-1 of them), not
    one per GRAM. The transform(sequence, i -> array_join(slice(...)))
    form allocates a subarray + joins it per gram inside an interpreted
    lambda; measured 3x slower on the corpus shingle pass (the input to
    every dedup family). Output strings are identical."""
    t = F.col(toks) if isinstance(toks, str) else toks
    m = F.size(t) - (n - 1)
    acc = F.slice(t, 1, m)
    for k in range(2, n + 1):
        acc = F.zip_with(acc, F.slice(t, k, m), lambda x, y: F.concat_ws(" ", x, y))
    return F.when(F.size(t) >= n, acc).otherwise(F.array().cast("array<string>"))


def token_bigrams() -> Column:
    """array<struct<w1, w2>> of the token array `t`'s adjacent pairs, in
    position order. t[i-1]/t[i] is 0-based SQL indexing and
    sequence(1, 0) DESCENDS, so arrays with < 2 tokens are guarded to
    an empty array."""
    return F.expr(
        "CASE WHEN size(t) >= 2 THEN "
        "transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS w1, t[i] AS w2)) "
        "ELSE array() END"
    )


def ngram_window_sql(n: int, rel: str = "toks") -> str:
    """DuckDB FROM-clause fragment: one row per n-gram start `i`
    (1-based) of each token array `t` in `rel`; arrays with fewer than
    n tokens yield no rows (token_ngrams' empty-array case)."""
    return (
        f"{rel}, LATERAL (SELECT unnest(range(1, len(t) - {n} + 2)) AS i) r\n"
        f"  WHERE len(t) >= {n}"
    )


def ngram_sql(n: int) -> str:
    """The space-joined n-gram starting at `i` of `t` — one element of
    token_ngrams, DuckDB SQL fragment (rows from ngram_window_sql)."""
    return f"array_to_string(t[i : i + {n} - 1], ' ')"


def count_substring(col: Column | str, needle: str) -> Column:
    """Number of occurrences of a literal substring (main.go:192).
    split with -1 limit keeps trailing empties so counts are exact.

    The needle is regex-quoted with \\Q...\\E; a needle CONTAINING the
    literal sequence \\E would break out of the quoting, so it is
    split-and-rejoined first (java.util.regex.Pattern.quote's exact
    recipe: \\E → \\E\\\\E\\Q — close the quote, match a literal
    backslash-E, reopen). An EMPTY needle splits on the empty pattern
    and yields length-based counts rather than an error — documented
    engine semantics, mirrored by engine_count_substring (ADVICE r5
    #3)."""
    quoted = "\\Q" + needle.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    return (F.size(F.split(col, quoted, -1)) - F.lit(1)).alias("count")


def page_loc(url: Column | str, prefix: str = "https://en.wikibooks.org/wiki/") -> Column:
    """Strip the wiki prefix (main.go:194). The reference panics when the
    prefix is absent; we yield NULL instead (divergence §7.6.5)."""
    c = F.col(url) if isinstance(url, str) else url
    return F.when(c.startswith(prefix), c.substr(F.lit(len(prefix) + 1), F.length(c))).otherwise(
        F.lit(None)
    )


def parent_path(loc: Column | str) -> Column:
    """Drop the last '/'-segment of a path; top-level pages yield '' which
    matches no page_loc ⇒ no parent (main.go:195)."""
    c = F.col(loc) if isinstance(loc, str) else loc
    parts = F.split(c, "/")
    # NULL input (e.g. off-prefix URL → NULL page_loc) propagates as NULL
    # explicitly — size(NULL) semantics vary with ANSI/legacy conf.
    return (
        F.when(c.isNull(), F.lit(None).cast("string"))
        .when(F.size(parts) <= 1, F.lit(""))
        .otherwise(F.array_join(F.slice(parts, 1, F.size(parts) - 1), "/"))
    )
