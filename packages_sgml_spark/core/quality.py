"""Per-document quality kernel: the crawl sidecar's Gopher signals,
C4 line stats and stopword lang-id for one text, in plain Python.

It is the worker-side twin of the JVM projection
``spark.textops.quality_features`` and copies Spark's string
semantics, not Python's:

- words split on Java ``\\s+``, i.e. ASCII ``[ \\t\\n\\x0b\\f\\r]``
  (``str.split()`` also splits on NBSP, U+2028, \\x1c-\\x1f, ...);
- ``trim``/``ltrim``/``rtrim`` strip ``' '`` only;
- lines split on ``\\r?\\n`` keeping trailing empty lines, so a lone
  ``\\r`` is not a line end;
- literal counts are left-to-right non-overlapping (``str.count``,
  the replace-count formula);
- ``round(x, 6)`` is HALF_UP on ``Double.toString(x)``, i.e. on the
  shortest decimal of the double (``Decimal(repr(x))``), where
  Python's ``round`` works on the binary value;
- the C4 five-word test is an anchored ASCII ``\\s``/``\\S`` match.

NULL text gives NULL lang_pred and lang_score; every other feature
reads it as "".  Imports only re and decimal, so workers and the
driver load it without Spark.
"""

import re
from decimal import ROUND_HALF_UP, Decimal

# language-ID stopword evidence: tiny per-language marker sets.
# Deliberately expressible in plain SQL (the DuckDB oracle runs the
# identical formula); a smarter n-gram model would be UDF territory.
LANG_MARKERS = {
    "en": (" the ", " and ", " of "),
    "de": (" der ", " und ", " die "),
    "fr": (" le ", " et ", " la "),
    "es": (" el ", " y ", " los "),
    "pt": (" o ", " e ", " dos "),
    "nl": (" de ", " en ", " het "),
}

GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have",
                    "with")
GOPHER_BULLETS = ("•", "‣", "▪", "●", "◦",
                  "⁃", "*", "-")

# (name, Spark DDL type) of the 12 feature columns, in output order,
# with the JVM projection's nullability
FIELDS = (("n_words", "bigint not null"), ("mean_word_len", "double"),
          ("symbol_ratio", "double"), ("bullet_frac", "double"),
          ("ellipsis_frac", "double"), ("alpha_word_frac", "double"),
          ("n_stop_hits", "int not null"), ("gopher_pass", "int"),
          ("n_kept", "int not null"), ("c4_keep", "int not null"),
          ("lang_pred", "string"), ("lang_score", "int"))

_WORD = re.compile("[^ \t\n\x0b\f\r]+")
_LINE = re.compile("\r?\n")
_ALPHA = re.compile("[A-Za-z]")
_FIVE_WORDS = re.compile(r"\s*\S+(?:\s+\S+){4}", re.ASCII)
_LANGS = sorted(LANG_MARKERS.items())
_BULLETS = frozenset(GOPHER_BULLETS)
_TERMINAL = (".", "!", "?", '"')
_ELLIPSES = ("...", "…")
_MICRO = Decimal("0.000001")


def round6(x):
    """Spark's ``round(x, 6)`` on a double."""
    return float(Decimal(repr(x)).quantize(_MICRO, ROUND_HALF_UP))


def _c4_line_keep(line):
    """datafilters.c4_line_keep: terminal punctuation, >= 5 words,
    no 'javascript'."""
    return (line.rstrip(" ").endswith(_TERMINAL)
            and _FIVE_WORDS.match(line) is not None
            and "javascript" not in line.lower())


def features(text):
    """The 12 FIELDS values of one document, as a tuple."""
    raw, text = text, text or ""
    lower = text.lower()
    words = _WORD.findall(text)
    lines = _LINE.split(text)
    n_words = len(words)
    wden = float(max(n_words, 1))
    lden = float(len(lines))
    mean_word_len = round6(sum(map(len, words)) / wden)
    symbol_ratio = round6((text.count("#") + text.count("...") +
                           text.count("…")) / wden)
    bullet_frac = round6(
        sum(l.lstrip(" ")[:1] in _BULLETS for l in lines) / lden)
    ellipsis_frac = round6(
        sum(l.rstrip(" ").endswith(_ELLIPSES) for l in lines) / lden)
    alpha_word_frac = round6(
        sum(_ALPHA.search(w) is not None for w in words) / wden)
    # lowering never creates or removes ASCII whitespace and final
    # sigma stops at it, so the words of lower(text) are the lowered
    # words
    lwords = set(_WORD.findall(lower))
    n_stop_hits = sum(w in lwords for w in GOPHER_STOPWORDS)
    gopher_pass = int(50 <= n_words <= 100000 and
                      3.0 <= mean_word_len <= 10.0 and
                      symbol_ratio <= 0.1 and bullet_frac <= 0.9 and
                      ellipsis_frac <= 0.3 and alpha_word_frac >= 0.8
                      and n_stop_hits >= 2)
    n_kept = sum(map(_c4_line_keep, lines))
    c4_keep = int(n_kept >= 3 and "lorem ipsum" not in lower and
                  "{" not in text)
    lang_pred = lang_score = None
    if raw is not None:
        padded = " " + lower + " "
        scores = [sum(padded.count(p) for p in pats)
                  for _, pats in _LANGS]
        lang_score = max(scores)
        # ties break by language-code order
        lang_pred = _LANGS[scores.index(lang_score)][0]
    return (n_words, mean_word_len, symbol_ratio, bullet_frac,
            ellipsis_frac, alpha_word_frac, n_stop_hits, gopher_pass,
            n_kept, c4_keep, lang_pred, lang_score)

