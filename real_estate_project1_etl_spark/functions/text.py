"""String Column expressions.

Every function here returns a native ``Column`` built from
``pyspark.sql.functions`` — no Python UDFs — so the whole cleaning chain
stays inside whole-stage codegen and remains pushdown/prune-friendly. The
reference implements these as row-at-a-time Python (``applymap(unidecode)``
extract.py:45, digit-extract lambda transform.py:68, ``extract_last_two_words``
transform.py:81-87); replacing them with native expressions is the single
biggest idiomatic-Spark win (SURVEY.md §2 "UDF surface").
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Latin-script -> ASCII transliteration (extract.py:45 ``applymap(unidecode)``
# handles ANY Unicode; this covers the full Latin-1 Supplement and Latin
# Extended-A letter blocks — every accented Latin letter a European address
# can carry, incl. the superscript in 'm\u00b2' -> 'm2' noted in README.md:97 —
# with unidecode-identical outputs, property-tested against a vendored pair
# fixture in tests/test_reference_fidelity.py).  A finite translate() map +
# a short literal-replace chain keeps the operation deterministic and
# codegen-native; a full Unicode unidecode would need a vectorized
# pandas_udf (optimization barrier) for no benefit on Latin-script corpora.
#
# 1:1 foldings, grouped by ASCII output (each source char appears once):
_ONE_TO_ONE = {
    "A": "\u00c0\u00c1\u00c2\u00c3\u00c4\u00c5\u0100\u0102\u0104",
    "a": "\u00e0\u00e1\u00e2\u00e3\u00e4\u00e5\u0101\u0103\u0105",
    "C": "\u00c7\u0106\u0108\u010a\u010c",
    "c": "\u00e7\u0107\u0109\u010b\u010d",
    "D": "\u00d0\u010e\u0110",
    "d": "\u00f0\u010f\u0111",
    "E": "\u00c8\u00c9\u00ca\u00cb\u0112\u0114\u0116\u0118\u011a",
    "e": "\u00e8\u00e9\u00ea\u00eb\u0113\u0115\u0117\u0119\u011b",
    "G": "\u011c\u011e\u0120\u0122",
    "g": "\u011d\u011f\u0121\u0123",
    "H": "\u0124\u0126",
    "h": "\u0125\u0127",
    "I": "\u00cc\u00cd\u00ce\u00cf\u0128\u012a\u012c\u012e\u0130",
    "i": "\u00ec\u00ed\u00ee\u00ef\u0129\u012b\u012d\u012f\u0131",
    "J": "\u0134",
    "j": "\u0135",
    "K": "\u0136",
    "k": "\u0137\u0138",
    "L": "\u0139\u013b\u013d\u013f\u0141",
    "l": "\u013a\u013c\u013e\u0140\u0142",
    "N": "\u00d1\u0143\u0145\u0147",
    "n": "\u00f1\u0144\u0146\u0148",
    "O": "\u00d2\u00d3\u00d4\u00d5\u00d6\u00d8\u014c\u014e\u0150",
    "o": "\u00f2\u00f3\u00f4\u00f5\u00f6\u00f8\u014d\u014f\u0151",
    "R": "\u0154\u0156\u0158",
    "r": "\u0155\u0157\u0159",
    "S": "\u015a\u015c\u015e\u0160",
    "s": "\u015b\u015d\u015f\u0161\u017f",
    "T": "\u0162\u0164\u0166",
    "t": "\u0163\u0165\u0167",
    "U": "\u00d9\u00da\u00db\u00dc\u0168\u016a\u016c\u016e\u0170\u0172",
    "u": "\u00f9\u00fa\u00fb\u00fc\u0169\u016b\u016d\u016f\u0171\u0173",
    "W": "\u0174",
    "w": "\u0175",
    "Y": "\u00dd\u0176\u0178",
    "y": "\u00fd\u00ff\u0177",
    "Z": "\u0179\u017b\u017d",
    "z": "\u017a\u017c\u017e",
    "2": "\u00b2",
    "x": "\u00d7",
    " ": "\u00a0",
}
_DIACRITIC_PAIRS = [
    (ch, a) for a, chars in _ONE_TO_ONE.items() for ch in chars
]
_DIACRITICS_SRC = "".join(p[0] for p in _DIACRITIC_PAIRS)
_DIACRITICS_DST = "".join(p[1] for p in _DIACRITIC_PAIRS)

# 1:N foldings (translate can't grow strings — chained literal replace;
# unidecode-identical outputs)
_MULTI_PAIRS = [
    ("\u00df", "ss"),                      # sharp s
    ("\u00c6", "AE"), ("\u00e6", "ae"),    # ash
    ("\u0152", "OE"), ("\u0153", "oe"),    # ethel
    ("\u00de", "Th"), ("\u00fe", "th"),    # thorn
    ("\u0132", "IJ"), ("\u0133", "ij"),    # Dutch IJ
    ("\u014a", "NG"), ("\u014b", "ng"),    # eng
]


def strip_diacritics(col: Column | str) -> Column:
    """C1 — transliterate Latin-1 Supplement + Latin Extended-A to ASCII
    (extract.py:45).  Multi-char folds (\u00df->ss, \u00c6->AE, ...) first via
    literal ``replace``, then the 1:1 block via one ``translate`` — all
    codegen-native, no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    for src, dst in _MULTI_PAIRS:
        c = F.replace(c, F.lit(src), F.lit(dst))
    return F.translate(c, _DIACRITICS_SRC, _DIACRITICS_DST)


def nbsp_to_space(col: Column | str) -> Column:
    """C2 — non-breaking space -> plain space (transform.py:63).  A literal
    ``replace``: the reference's pattern has no regex metacharacter, so
    the regex engine would only add cost."""
    c = F.col(col) if isinstance(col, str) else col
    return F.replace(c, F.lit("\u00a0"), F.lit(" "))


def digits_only(col: Column | str) -> Column:
    """C4 — keep only digits, cast to int (transform.py:68).

    Divergence (documented, not replicated): the reference *throws* on
    zero-digit input; this yields NULL (regexp leaves '', cast('') -> NULL
    with ANSI off) — same lenient semantics as DuckDB TRY_CAST.
    """
    return F.regexp_replace(col, "[^0-9]", "").cast("int")


def collapse_whitespace(col: Column | str) -> Column:
    """Normalize runs of whitespace to single spaces and trim."""
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def split_words(col: Column | str) -> Column:
    """C10 tokenizer — the trimmed string split on whitespace runs
    (Python ``str.split()``, transform.py:81-87)."""
    return F.split(F.trim(F.col(col) if isinstance(col, str) else col), r"\s+")


def join_last_two(words: Column) -> Column:
    """C10 — the last two words of a word array joined by a space, with
    trailing commas stripped; '' when there are fewer than two words
    (transform.py:85-91). ``rtrim(',')`` is the reference's
    ``rstrip(',')``: it removes *all* trailing commas, not just one."""
    return F.when(
        F.size(words) >= 2,
        F.rtrim(F.concat_ws(" ", F.slice(words, -2, 2)), F.lit(",")),
    ).otherwise(F.lit(""))


def join_all_but_last_two(words: Column) -> Column:
    """C12 helper — a word array minus its last two words, joined by a
    space, trailing commas stripped; '' when there are two words or fewer
    (transform.py:95 strips the region suffix from the address with
    ``rstrip(',')``)."""
    return F.when(
        F.size(words) > 2,
        F.rtrim(F.concat_ws(" ", F.slice(words, 1, F.size(words) - 2)), F.lit(",")),
    ).otherwise(F.lit(""))


def last_two_words(col: Column | str) -> Column:
    """C10 over a string: :func:`join_last_two` of its :func:`split_words`."""
    return join_last_two(split_words(col))


def basename(col: Column | str) -> Column:
    """C15 — last path segment (transform.py:112)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.substring_index(c, "/", -1)
