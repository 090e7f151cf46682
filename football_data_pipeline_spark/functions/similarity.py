"""F9-F11: similarity kernels for the resolution cascade.

All built-in column expressions (codegen'd, no UDF) except the
optional difflib-parity Pandas UDF. The ``sql_*`` builders emit the
same kernels as Spark SQL text for statements issued through
``spark.sql``; the ``oracle_*`` builders emit them as DuckDB SQL.

F11 decision (SURVEY.md §7 risk register): the engine's default fuzzy
kernel is the Levenshtein RATIO (1 − lev/maxlen) — pure built-in on
both Spark and DuckDB, so the oracle can check it exactly. The
reference uses difflib's Ratcliff-Obershelp ratio
(/root/reference/enhanced_mapping.py:579); for bit-level parity with
the reference a vectorized ``difflib_ratio`` Pandas UDF is provided
and selectable via ``use_difflib=True`` in the resolver. The two
agree on match/no-match for the reference's own test names but are
not numerically identical; the oracle encodes the Levenshtein choice.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def substring_confidence(a_norm: Column, b_norm: Column) -> Column:
    """F9: containment either way → min(len)/max(len) × 0.75
    (/root/reference/enhanced_mapping.py:494-529). 0 when no
    containment or empty left side."""
    contained = a_norm.contains(b_norm) | b_norm.contains(a_norm)
    ratio = F.least(F.length(a_norm), F.length(b_norm)) / F.greatest(
        F.length(a_norm), F.length(b_norm)
    )
    return F.when(contained & (F.length(a_norm) > 0), ratio * 0.75).otherwise(F.lit(0.0))


def word_set(norm: Column) -> Column:
    """Distinct word set of a normalized name (set semantics like
    Python's set(str.split()))."""
    return F.array_distinct(F.array_remove(F.split(norm, " "), ""))


def jaccard_words(a_norm: Column, b_norm: Column) -> Column:
    """F10: word-set Jaccard × 0.7
    (/root/reference/enhanced_mapping.py:531-567)."""
    return jaccard_from_words(word_set(a_norm), word_set(b_norm))


def jaccard_from_words(aw: Column, bw: Column) -> Column:
    """F10 over pre-split word sets — lets callers hoist the split
    out of a pairwise join (split once per input row, not per pair)."""
    inter = F.size(F.array_intersect(aw, bw))
    union = F.size(F.array_union(aw, bw))
    return F.when((F.size(aw) > 0) & (F.size(bw) > 0) & (union > 0), inter / union * 0.7).otherwise(
        F.lit(0.0)
    )


def levenshtein_ratio(a_norm: Column, b_norm: Column) -> Column:
    """F11b (engine default): 1 − levenshtein/max(len), scaled later.
    Both names empty → ratio 0 (no signal)."""
    maxlen = F.greatest(F.length(a_norm), F.length(b_norm))
    return F.when(maxlen > 0, 1.0 - F.levenshtein(a_norm, b_norm) / maxlen).otherwise(F.lit(0.0))


@F.pandas_udf(T.DoubleType())
def difflib_ratio(a: pd.Series, b: pd.Series) -> pd.Series:
    """F11a (reference parity): difflib.SequenceMatcher.ratio,
    Arrow-vectorized. The only UDF in the entire engine (SURVEY.md
    §2.11); off the default path."""
    import difflib

    return pd.Series(
        [
            difflib.SequenceMatcher(None, x or "", y or "").ratio()
            for x, y in zip(a.tolist(), b.tolist())
        ]
    )


def sql_word_set(norm: str) -> str:
    """``word_set`` as Spark SQL text."""
    return f"array_distinct(array_remove(split({norm}, ' '), ''))"


def sql_jaccard_from_words(aw: str, bw: str) -> str:
    """``jaccard_from_words`` as Spark SQL text — the same operations
    in the same order, so the doubles agree bitwise."""
    inter = f"size(array_intersect({aw}, {bw}))"
    union = f"size(array_union({aw}, {bw}))"
    return (
        f"CASE WHEN size({aw}) > 0 AND size({bw}) > 0 AND {union} > 0 "
        f"THEN {inter} / {union} * 0.7D ELSE 0.0D END"
    )


def sql_levenshtein_ratio(a: str, b: str) -> str:
    """``levenshtein_ratio`` as Spark SQL text."""
    maxlen = f"greatest(length({a}), length({b}))"
    return f"CASE WHEN {maxlen} > 0 THEN 1.0D - levenshtein({a}, {b}) / {maxlen} ELSE 0.0D END"


def oracle_substring_confidence(a: str, b: str) -> str:
    # operation order mirrors the Spark expression exactly —
    # (min/max) * 0.75, never min*0.75/max — so doubles agree bitwise
    return (
        f"CASE WHEN length({a}) > 0 AND (contains({a}, {b}) OR contains({b}, {a})) "
        f"THEN (least(length({a}), length({b})) * 1.0 / greatest(length({a}), length({b}))) * 0.75 "
        f"ELSE 0.0 END"
    )


def oracle_word_set(x: str) -> str:
    return f"list_distinct(list_filter(string_split({x}, ' '), w -> w <> ''))"


def oracle_jaccard_words(a: str, b: str) -> str:
    aw, bw = oracle_word_set(a), oracle_word_set(b)
    inter = f"len(list_intersect({aw}, {bw}))"
    union = f"len(list_distinct(list_concat({aw}, {bw})))"
    return (
        f"CASE WHEN len({aw}) > 0 AND len({bw}) > 0 AND {union} > 0 "
        f"THEN ({inter} * 1.0 / {union}) * 0.7 ELSE 0.0 END"
    )


def oracle_levenshtein_ratio(a: str, b: str) -> str:
    return (
        f"CASE WHEN greatest(length({a}), length({b})) > 0 "
        f"THEN 1.0 - levenshtein({a}, {b}) * 1.0 / greatest(length({a}), length({b})) "
        f"ELSE 0.0 END"
    )
