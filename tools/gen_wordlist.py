"""Generate the newline-delimited dictionary fixture (S2 side input).

The reference ships a 235,886-word English wordlist (`en`, 2.4 MB)
loaded at startup into a membership set (main.go:108-118). This
generator produces a deterministic stand-in at
capstone_etl_spark/resources/wordlist_en_full.txt:

- the corpus vocabulary words that the gate should KEEP (deliberately
  excluding 'spark', 'vector', 'dup' and 'merge' so the gate provably
  filters — same trick as the literal DICTIONARY);
- mixed-case + duplicated + whitespace-padded entries of those words,
  so the loader's lower/trim/distinct normalization is exercised;
- ~25k deterministic pronounceable filler words (syllable product), so
  the scan/broadcast path carries a realistically-sized set;
- deterministic CV³ filler up to the reference's exact line count.

Run: python tools/gen_wordlist.py   (idempotent, writes the fixture)
"""

from __future__ import annotations

import itertools
import os

KEEP = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "stream", "table",
    "the", "value", "window",
]
# excluded on purpose: spark, vector, dup, merge

SYLLABLES_A = ["ba", "ce", "di", "fo", "gu", "ha", "je", "ki", "lo", "mu",
               "na", "pe", "qi", "ro", "su", "ta", "ve", "wi", "xo", "yu"]
SYLLABLES_B = ["bel", "cor", "dan", "fen", "gil", "hom", "jun", "kar",
               "lim", "mon", "nar", "pol", "quin", "rus", "sel", "tor",
               "ver", "wal", "xen", "yor"]
SYLLABLES_C = ["ate", "ine", "ous", "ism", "ory", "ance", "ment", "ship",
               "ward", "wise", "ify", "ize", "able", "less", "ful", "dom",
               "hood", "ness", "tion", "sion"]


# The reference's `en` file is 235,886 lines (~2.4 MB). The full-size
# fixture matches that LINE COUNT exactly so the S2 broadcast is
# exercised at reference size (VERDICT r4 item 7). Filler words are
# even-length CV-syllable concatenations — they can never collide with
# the deliberately-excluded odd-length probes ('spark', 'vector',
# 'merge', 'dup' all contain consonant clusters / odd lengths no CV
# product emits).
FULL_SIZE = 235_886

_CONSONANTS = "bcdfghjklmnprstvwxyz"
_VOWELS = "aeiou"
_CV = [c + v for c in _CONSONANTS for v in _VOWELS]  # 100 syllables


def _base_lines() -> list[str]:
    lines: list[str] = []
    for w in KEEP:
        lines.append(w)
        lines.append(w.upper())          # case-normalization exercised
        lines.append(w.capitalize())
        lines.append(f"  {w}  ")         # trim exercised
    for a, b, c in itertools.product(SYLLABLES_A, SYLLABLES_B, SYLLABLES_C):
        lines.append(a + b + c)
    return lines


def main() -> None:
    res = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "capstone_etl_spark", "resources",
    )
    os.makedirs(res, exist_ok=True)

    # the base lines + deterministic CV³ filler up to the reference's
    # exact line count, duplicates skipped
    base = _base_lines()
    seen = {ln.strip().lower() for ln in base}
    lines = list(base)
    for a, b, c in itertools.product(_CV, _CV, _CV):
        if len(lines) >= FULL_SIZE:
            break
        w = a + b + c
        if w not in seen:
            seen.add(w)
            lines.append(w)
    full = os.path.join(res, "wordlist_en_full.txt")
    with open(full, "w", encoding="ascii") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {full}: {len(lines)} lines, {os.path.getsize(full)} bytes")


if __name__ == "__main__":
    main()
