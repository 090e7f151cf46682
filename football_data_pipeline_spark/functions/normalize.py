"""F6: team-name normalization as a pure built-in column expression.

Replicates the reference's rule table
(/root/reference/enhanced_mapping.py:216-261) and application order
(:309-323): strip → token rules (case-insensitive regex, insertion
order) → accent folding → whitespace collapse → lowercase.

Re-expression detail: the reference lowercases LAST but matches
case-insensitively throughout, so lowercasing FIRST with lowercase
patterns is equivalent and lets the whole chain stay inside
whole-stage codegen (regexp_replace + translate, no UDF). Identity
rules in the reference table (Real→Real, City→City, …) are no-ops and
are omitted.

A Column builder, a Spark-SQL text builder and a DuckDB-SQL builder
live here, all generated from the same tables, so engine and oracle
share one rule source — drift between them is impossible.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: (pattern, replacement), applied in order; patterns are lowercase
#: because input is lowercased first. Source order preserved from
#: enhanced_mapping.py:216-240.
TOKEN_RULES: tuple[tuple[str, str], ...] = (
    (r"\bfc\b", ""),
    (r"\bcf\b", ""),
    (r"\bac\b", ""),
    (r"\bsc\b", ""),
    (r"\basc\b", ""),
    (r"\bclub\b", ""),
    (r"\bolympique\b", ""),
    (r"\bsporting\b", ""),
    (r"\bunited\b", "utd"),
    (r"\bhotspur\b", ""),
    (r"&", "and"),
)

#: accent fold map (enhanced_mapping.py:237-260); lowercase only —
#: uppercase variants are already lowercased before folding
ACCENT_FROM = "éèêëáàâãäíìîïóòôõöúùûüçñ"
ACCENT_TO = "eeee" + "aaaaa" + "iiii" + "ooooo" + "uuuu" + "c" + "n"
assert len(ACCENT_FROM) == len(ACCENT_TO)

#: runs of whitespace collapse to one space
WHITESPACE = r"\s+"


def normalize_name(col: Column | str) -> Column:
    """Spark column expression for the full normalization chain."""
    x = F.lower(F.trim(F.col(col) if isinstance(col, str) else col))
    for pat, rep in TOKEN_RULES:
        x = F.regexp_replace(x, pat, rep)
    x = F.translate(x, ACCENT_FROM, ACCENT_TO)
    return F.trim(F.regexp_replace(x, WHITESPACE, " "))


def sql_normalize(expr: str) -> str:
    r"""The identical chain as Spark SQL text, for statements issued
    through ``spark.sql``. The SQL parser unescapes backslashes in
    string literals, so each one in a pattern is doubled (``\\b`` in
    the text reaches the regex engine as ``\b``)."""

    def lit(pattern: str) -> str:
        return "'" + pattern.replace("\\", "\\\\") + "'"

    x = f"lower(trim({expr}))"
    for pat, rep in TOKEN_RULES:
        x = f"regexp_replace({x}, {lit(pat)}, '{rep}')"
    x = f"translate({x}, '{ACCENT_FROM}', '{ACCENT_TO}')"
    return f"trim(regexp_replace({x}, {lit(WHITESPACE)}, ' '))"


def oracle_normalize(expr: str) -> str:
    """The identical chain as DuckDB SQL (regexp_replace needs the
    'g' flag there; Spark/Python replace all by default)."""
    x = f"lower(trim({expr}))"
    for pat, rep in TOKEN_RULES:
        x = f"regexp_replace({x}, '{pat}', '{rep}', 'g')"
    x = f"translate({x}, '{ACCENT_FROM}', '{ACCENT_TO}')"
    return f"trim(regexp_replace({x}, '{WHITESPACE}', ' ', 'g'))"
