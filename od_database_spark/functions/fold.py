"""Full ascii-folding table (SURVEY.md X2, reference F10/Q1 path).

The reference folds queries through the fold_to_ascii submodule before the
blocklist check (search/filter.py:11-31, .gitmodules:1-3).  That package
implements the well-known Lucene ASCIIFoldingFilter semantics: every Latin
letter with a diacritic or ligature maps to its ASCII base sequence.  The
table here is DERIVED, not copied: NFKD decomposition with combining marks
stripped over the Latin ranges (U+00C0-U+024F, U+1E00-U+1EFF), plus the
standard non-decomposable specials (o-stroke, eth, thorn, l-stroke, sharp s,
ligatures) and typographic punctuation.  Both engines consume the SAME
generated table: Spark via replace-chain + translate, DuckDB via the
generated SQL mirror — parity is by construction.
"""

from __future__ import annotations

import unicodedata

from pyspark.sql import Column
from pyspark.sql import functions as F

# non-decomposable characters Lucene folds (NFKD leaves these untouched)
_SPECIAL = {
    "ß": "ss", "ẞ": "SS",
    "æ": "ae", "Æ": "AE", "œ": "oe", "Œ": "OE",
    "ø": "o", "Ø": "O", "ð": "d", "Ð": "D", "þ": "th", "Þ": "TH",
    "đ": "d", "Đ": "D", "ħ": "h", "Ħ": "H", "ı": "i", "ĸ": "k",
    "ł": "l", "Ł": "L", "ŋ": "n", "Ŋ": "N", "ŧ": "t", "Ŧ": "T",
    "ƀ": "b", "ƃ": "b", "Ƃ": "B", "ƈ": "c", "Ƈ": "C", "ɖ": "d",
    "Ə": "E", "ə": "e", "Ǝ": "E", "ǝ": "e",
    "ƒ": "f", "Ƒ": "F", "ǥ": "g", "Ǥ": "G", "ʒ": "s", "Ʒ": "S",
    "ﬁ": "fi", "ﬂ": "fl", "ﬀ": "ff", "ﬃ": "ffi", "ﬄ": "ffl", "ﬆ": "st",
    # typographic punctuation the filter normalizes
    "‘": "'", "’": "'", "‚": "'", "‛": "'",
    "“": '"', "”": '"', "„": '"',
    "‐": "-", "‑": "-", "‒": "-", "–": "-", "—": "-",
}

_RANGES = ((0x00C0, 0x0250), (0x1E00, 0x1F00))


import re as _re

# Unicode-name fallback for Latin letters with NO decomposition (hooked /
# implosive / turned Latin Extended-B forms: Ɓ, Ɗ, Ƙ, ƴ, …) — exactly what
# Lucene's hand-written table covers; the base letter comes from the
# character name "LATIN CAPITAL/SMALL LETTER <base> [WITH ...]".
_NAME_RE = _re.compile(
    r"^LATIN (CAPITAL|SMALL) LETTER "
    r"(?:TURNED |REVERSED |SCRIPT |DOTLESS |CLOSED |SIDEWAYS |INSULAR |OPEN |AFRICAN |LONG )*"
    r"([A-Z]{1,2})\b(?: WITH .*)?$"
)


def _name_fold(ch: str) -> str | None:
    try:
        name = unicodedata.name(ch)
    except ValueError:
        return None
    m = _NAME_RE.match(name)
    if not m:
        return None
    case, base = m.groups()
    return base if case == "CAPITAL" else base.lower()


def _build() -> tuple[dict[str, str], dict[str, str], set[str]]:
    one: dict[str, str] = {}
    multi: dict[str, str] = {}
    unfoldable: set[str] = set()
    for lo, hi in _RANGES:
        for cp in range(lo, hi):
            ch = chr(cp)
            if ch in _SPECIAL:
                continue
            d = unicodedata.normalize("NFKD", ch)
            folded = "".join(
                c for c in d if ord(c) < 128 and not unicodedata.combining(c)
            )
            if not folded or folded == ch:
                folded = _name_fold(ch) or ""
            if folded and folded != ch:
                (one if len(folded) == 1 else multi)[ch] = folded
            else:
                unfoldable.add(ch)
    for ch, rep in _SPECIAL.items():
        (one if len(rep) == 1 else multi)[ch] = rep
    return one, multi, unfoldable


FOLD_ONE, FOLD_MULTI, FOLD_UNFOLDABLE = _build()
_SRC = "".join(sorted(FOLD_ONE))
_DST = "".join(FOLD_ONE[c] for c in sorted(FOLD_ONE))

# the fold_ascii_col fast-path guard assumes every fold source char sits in
# [U+00C0, U+FFFF] — enforce it so a future table edit can't silently make
# the guard skip foldable rows
assert min(ord(c) for c in (*FOLD_ONE, *FOLD_MULTI)) >= 0xC0
assert max(ord(c) for c in (*FOLD_ONE, *FOLD_MULTI)) <= 0xFFFF


def fold_ascii_col(col: Column) -> Column:
    """Apply the full fold as native expressions: the (few) one-to-many
    mappings as literal replaces, then ONE translate for the hundreds of
    one-to-one mappings — all whole-stage-codegen'd, no UDF.

    Fast path (r6): every fold SOURCE character is >= U+00C0 (the Latin
    ranges plus typographic punctuation), so a string with no character in
    [U+00C0, U+FFFF] is a fold fixpoint — one rlike scan skips the
    ~17-replace + translate chain for such rows (the common case on
    ASCII-heavy corpora; rows with foldable characters pay one extra scan).
    The regex matches whole code points, so an astral (non-BMP) character
    never matches the guard — safe because astral code points are never
    fold sources (the <= 0xFFFF assert above enforces it)."""
    out = col
    for ch in sorted(FOLD_MULTI):
        out = F.replace(out, F.lit(ch), F.lit(FOLD_MULTI[ch]))
    folded = F.translate(out, _SRC, _DST)
    return F.when(col.rlike("[\\u00c0-\\uffff]"), folded).otherwise(col)


def _q(s: str) -> str:  # SQL single-quote escaping (the fold emits "'")
    return s.replace("'", "''")


def fold_ascii_sql(expr: str) -> str:
    """DuckDB mirror of fold_ascii_col over an SQL expression string."""
    out = expr
    for ch in sorted(FOLD_MULTI):
        out = f"replace({out}, '{_q(ch)}', '{_q(FOLD_MULTI[ch])}')"
    return f"translate({out}, '{_q(_SRC)}', '{_q(_DST)}')"


def fold_ascii_py(s: str) -> str:
    """Pure-Python reference of the same table (test oracle)."""
    for ch in sorted(FOLD_MULTI):
        s = s.replace(ch, FOLD_MULTI[ch])
    return s.translate(str.maketrans(FOLD_ONE))
