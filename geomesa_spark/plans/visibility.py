"""Row-level visibility filtering (Accumulo-style label expressions).

Engine analog of geomesa-security's VisibilityEvaluator
(geomesa-security/.../VisibilityEvaluator.scala, ported from Accumulo's
ColumnVisibility): each row carries a label expression like
``user&(admin|test)``; a scan with authorizations {user, admin} keeps rows
whose expression evaluates true.  `&` binds tighter than `|`
(``a|b&c == a|(b&c)``); empty/null expressions are visible to everyone;
invalid expressions raise.

Spark plan shape: label expressions repeat massively (a corpus has a
handful of distinct labels, like Accumulo's column-visibility cache), so
`visibility_filter` collects the DISTINCT labels, evaluates each once
driver-side, and applies the verdicts as a broadcast semi-join — the
per-row hot path is a hash probe, no parsing or boolean evaluation per
row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geomesa_spark.sources.arrow_io import local_table

_VALID = set("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_-:./")


class VisibilityParseError(ValueError):
    pass


def _parse(s: str, i: int, depth: int) -> tuple[object, int]:
    """Recursive-descent: or_expr := and_expr ('|' and_expr)*;
    and_expr := term ('&' term)*; term := value | '(' or_expr ')'."""

    def term(i: int) -> tuple[object, int]:
        if i < len(s) and s[i] == "(":
            node, i = or_expr(i + 1)
            if i >= len(s) or s[i] != ")":
                raise VisibilityParseError(f"unbalanced parens in {s!r}")
            return node, i + 1
        if i < len(s) and s[i] == '"':
            j = i + 1
            out = []
            while j < len(s) and s[j] != '"':
                if s[j] == "\\" and j + 1 < len(s):
                    j += 1
                out.append(s[j])
                j += 1
            if j >= len(s):
                raise VisibilityParseError(f"unterminated quote in {s!r}")
            return ("val", "".join(out)), j + 1
        j = i
        while j < len(s) and s[j] in _VALID:
            j += 1
        if j == i:
            raise VisibilityParseError(f"expected auth token at {i} in {s!r}")
        return ("val", s[i:j]), j

    def and_expr(i: int) -> tuple[object, int]:
        node, i = term(i)
        parts = [node]
        while i < len(s) and s[i] == "&":
            nxt, i = term(i + 1)
            parts.append(nxt)
        return (("and", parts) if len(parts) > 1 else parts[0]), i

    def or_expr(i: int) -> tuple[object, int]:
        node, i = and_expr(i)
        parts = [node]
        while i < len(s) and s[i] == "|":
            nxt, i = and_expr(i + 1)
            parts.append(nxt)
        return (("or", parts) if len(parts) > 1 else parts[0]), i

    return or_expr(i)


def parse_visibility(expr: str | None):
    """Parse a label expression; None/empty parses to the always-visible
    marker (VisibilityEvaluator.VisibilityNone)."""
    if expr is None or expr == "":
        return ("none",)
    node, i = _parse(expr, 0, 0)
    if i != len(expr):
        raise VisibilityParseError(f"trailing input at {i} in {expr!r}")
    return node


def evaluate(node, authorizations: set[str]) -> bool:
    kind = node[0]
    if kind == "none":
        return True
    if kind == "val":
        return node[1] in authorizations
    if kind == "and":
        return all(evaluate(c, authorizations) for c in node[1])
    return any(evaluate(c, authorizations) for c in node[1])


def can_see(expr: str | None, authorizations: set[str]) -> bool:
    return evaluate(parse_visibility(expr), set(authorizations))


def visibility_filter(df: DataFrame, authorizations: set[str],
                      vis_col: str = "visibility") -> DataFrame:
    """Rows whose visibility expression the authorizations satisfy.

    Distinct labels are evaluated once driver-side (they are few and
    cached in the reference too); the row filter is a broadcast semi-join
    on the label value plus the null/empty pass-through.
    """
    labels = [r[0] for r in df.select(vis_col).distinct().collect()]
    allowed = [l for l in labels
               if l not in (None, "") and can_see(l, authorizations)]
    allowed_df = local_table(df.sparkSession, [(l,) for l in allowed],
                             f"{vis_col} string")
    visible_null = df.where(F.col(vis_col).isNull() | (F.col(vis_col) == ""))
    visible_tag = df.join(F.broadcast(allowed_df), vis_col, "left_semi")
    return visible_null.unionByName(visible_tag)
