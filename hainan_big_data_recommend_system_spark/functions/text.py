"""Text scalar functions (SURVEY.md §2.8 F4, F5, F7, F8).

The reference's document prep (`simility_books.py:11-28,50-53`) and title
normalization (`simility_books.py:74-88`) re-expressed as Column expressions.
Everything stays JVM-side / whole-stage-codegen — the reference's only
genuinely-Python text op (jieba segmentation) is dead code there
(`convert_doc_to_wordlist` defined in all 4 files, called in none) and is
modeled by :func:`tokenize` on whitespace, matching live behavior.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

#: characters the reference strips from titles after the cut, `simility_books.py:81-82`
_PUNCT_CLASS = r"[.\u00b7\u30fb\u300a\u300b\-]"
#: title is cut at the first of these, `simility_books.py:74`
_CUT_CLASS = r"[\uff08\uff09\u3010\u3011/()0-9\uff0c\u7b2c:\u7cbe].*$"


def squash_spaces(s: Column) -> Column:
    """F7: trim + collapse repeated spaces (`guessLike_u_like.py:67`)."""
    return F.trim(F.regexp_replace(s, " +", " "))


def tokenize(doc: Column) -> Column:
    """F4: whitespace tokenization (`simility_books.py:53`,
    `guessLike_u_like.py:87`).

    Deliberately the engine-wide explicit ASCII whitespace class (NOT
    unicode ``\\s``): Java and RE2 disagree on ``\\s`` membership, and
    cross-engine oracle exactness wins over Python ``str.split()``'s
    unicode-whitespace behavior.  Sources with ideographic spaces
    (U+3000) should normalize them upstream."""
    return F.split(F.trim(doc), r"[ \t\n\x0B\f\r]+")


def normalize_title(title: Column) -> Column:
    """F8: the reference's two-stage title normalization for fuzzy dedup
    (`simility_books.py:74-88`): lowercase, cut everything from the first
    bracket/digit/series marker, then strip residual punctuation."""
    t = F.lower(title)
    t = F.regexp_replace(t, _CUT_CLASS, "")
    t = F.regexp_replace(t, _PUNCT_CLASS, "")
    return F.trim(t)


def ids_csv(ids: Column) -> Column:
    """F5/F19-adjacent: serialize an array of ids to the reference's CSV wire
    format (`simility_books.py:93`) — sink-boundary only; plans keep arrays."""
    return F.concat_ws(",", F.transform(ids, lambda x: x.cast("string")))
