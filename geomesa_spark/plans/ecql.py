"""ECQL (OGC CQL) filters: one parser to a small tree, rendered as Spark SQL.

The reference's query language surface (geomesa-filter: FastFilterFactory /
ECQL.toFilter). ``parse`` reads an ECQL string once into a tree of plain
tuples; ``ecql_to_column`` renders the tree as a Catalyst predicate over a
DataFrame with a WKB ``geom`` column (or plain lon/lat for point tables)
plus attribute and timestamp columns, and ``plans/local.evaluate`` runs the
same tree over pandas as the test oracle.

Supported grammar (the subset exercised by the reference's FilterTest corpus,
TestFilters.scala:16-220):

  expr        := or_expr
  or_expr     := and_expr (OR and_expr)*
  and_expr    := not_expr (AND not_expr)*
  not_expr    := NOT not_expr | '(' expr ')' | predicate
  predicate   := spatial | temporal | comparison | in_list | INCLUDE | EXCLUDE
  spatial     := INTERSECTS|DISJOINT|CONTAINS|WITHIN|OVERLAPS|CROSSES|TOUCHES|EQUALS
                 '(' prop ',' geometry ')'      (or '(' 'wkt' ',' prop ')')
               | BBOX '(' prop ',' n ',' n ',' n ',' n ')'
               | (DWITHIN|BEYOND) '(' prop ',' geometry ',' n ',' units ')'
  units       := meters | kilometers | feet | statute miles | nautical miles
  temporal    := prop DURING iso '/' iso | prop (BEFORE|AFTER|TEQUALS) iso
  comparison  := value (=|<>|<|<=|>|>=) value | prop [NOT] BETWEEN lit AND lit
               | prop [NOT] [I]LIKE pattern | prop IS [NOT] NULL
  in_list     := [prop] [NOT] IN '(' literal, ... ')'   (bare IN = feature IDs)
  value       := literal | prop | function '(' value, ... ')'

The tree, with ``v`` one of ``("prop", name)``, ``("lit", x)`` and
``("fn", name, [v, ...])``:

  ("and", a, b)  ("or", a, b)  ("not", a)  ("const", bool)
  ("cmp", op, v, v)  ("between", prop, lo, hi)  ("like", prop, pattern, ci)
  ("in", prop or None, [x, ...])  ("isnull", prop)  ("during", prop, lo, hi)
  ("spatial", op, prop, wkt)  ("dwithin", prop, wkt, meters)

The parser types every literal once: int, float, str, bool (``true``/
``false`` as a function argument) or datetime (an ISO instant, quoted or
not; a number with a fraction or an exponent is a float). BBOX is an
INTERSECTS of its rectangle, BEFORE/AFTER/TEQUALS are comparisons, BEYOND
is NOT DWITHIN, the NOT forms wrap their predicate in ``("not", ...)``, and
geometries are canonical WKT. NOT is two-valued: a predicate on a missing
(null) attribute is false and its NOT true, as in the reference's filter
evaluation.

DWITHIN meters are converted to planar degrees with the mean-latitude factor
(the reference converts geodesic meters to degrees:
filter/GeometryProcessing.scala:38-71).
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass
from datetime import datetime

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from geomesa_spark.geom import algos, model, wkt
from geomesa_spark.geom.wkb import wkb_dumps
from geomesa_spark.plans import refine
from geomesa_spark.plans.refine import sql_literal

SPATIAL_OPS = {"INTERSECTS", "DISJOINT", "CONTAINS", "WITHIN", "OVERLAPS",
               "CROSSES", "TOUCHES", "EQUALS", "BBOX", "DWITHIN", "BEYOND"}
UNITS = {"meters": 1.0, "kilometers": 1000.0, "feet": 0.3048,
         "statute miles": 1609.344, "nautical miles": 1852.0}
_TEMPORAL = {"BEFORE": "<", "AFTER": ">", "TEQUALS": "="}
_ATTRIBUTE = ("BETWEEN", "LIKE", "ILIKE", "IN")

_TOKEN = re.compile(r"""
    \s*(?:
      (?P<lparen>\() | (?P<rparen>\)) | (?P<comma>,) |
      (?P<op><>|<=|>=|=|<|>) |
      (?P<slash>/) |
      (?P<string>'(?:[^']|'')*') |
      (?P<iso>\d{4}-\d{2}-\d{2}T[\d:.]+Z?) |
      (?P<number>-?\d+\.?\d*(?:[eE][-+]?\d+)?) |
      (?P<word>[A-Za-z_][A-Za-z0-9_]*)
    )""", re.X)
_ISO = re.compile(r"^\d{4}-\d{2}-\d{2}T")


def _tokenize(s: str) -> list[tuple[str, str]]:
    out, i = [], 0
    while i < len(s):
        m = _TOKEN.match(s, i)
        if not m:
            if s[i].isspace():
                i += 1
                continue
            raise ValueError(f"ECQL tokenize error at {s[i:i+20]!r}")
        i = m.end()
        for kind, val in m.groupdict().items():
            if val is not None:
                out.append((kind, val))
                break
    out.append(("eof", ""))
    return out


M_PER_DEG = 111_195.0  # spherical meters per degree of latitude


def _java_regex_has_backref(pat: str) -> bool:
    """True when a Java regex contains a group backreference ``\\n``: a
    backslash and a digit 1-9 after an even run of backslashes (``\\\\1``
    is a literal backslash then '1'; ``\\0`` is an octal escape)."""
    return re.search(r"(?<!\\)(?:\\\\)*\\[1-9]", pat) is not None


def _shift_dollar_refs(repl: str) -> str:
    """Renumber ``$n`` group references in a Java Matcher replacement by +1
    (the strReplace first-occurrence rewrite injects a prefix group that
    becomes group 1).  ``\\$``/``\\\\`` escapes pass through untouched; a
    bare ``$`` is an error in Java too; ``$0`` (the whole match) cannot be
    shifted because the rewritten match includes the injected prefix."""
    def shift(m: re.Match) -> str:
        if m.group(1) is None:
            return m.group(0)
        if not m.group(1):
            raise ValueError(f"strReplace replacement has a dangling '$': {repl!r}")
        if int(m.group(1)) == 0:
            raise ValueError(
                "strReplace(..., false): $0 (whole-match reference) is "
                "unsupported — the rewritten match includes the "
                "injected anchor prefix")
        return f"${int(m.group(1)) + 1}"
    return re.sub(r"\\.|\$(\d*)", shift, repl, flags=re.S)


@dataclass
class EcqlContext:
    lon_col: str = "lon"          # used when geometry is point lon/lat
    lat_col: str = "lat"
    fid_col: str = "__fid__"
    prefer_lonlat: bool = False   # point tables: use lon/lat kernels directly


def _instant(text: str) -> datetime:
    return datetime.fromisoformat(text.rstrip("Z"))


class EcqlParser:
    """Recursive descent from ECQL text to the tree (module docstring)."""

    def __init__(self, text: str):
        self.tokens = _tokenize(text)
        self.pos = 0

    # -- token helpers -------------------------------------------------------

    def peek(self) -> tuple[str, str]:
        return self.tokens[self.pos]

    def next(self) -> tuple[str, str]:
        if self.pos >= len(self.tokens):
            raise ValueError("unexpected end of ECQL filter")
        self.pos += 1
        return self.tokens[self.pos - 1]

    def expect(self, kind: str, value: str | None = None) -> str:
        k, v = self.next()
        if k != kind or (value is not None and v.upper() != value):
            raise ValueError(f"expected {kind} {value or ''}, got {k} {v!r}")
        return v

    def _peek_word(self) -> str | None:
        k, v = self.peek()
        return v.upper() if k == "word" else None

    def _is_fn_call(self) -> bool:
        k, v = self.peek()
        return (k == "word" and v.upper() not in SPATIAL_OPS
                and self.tokens[self.pos + 1][0] == "lparen")

    # -- grammar --------------------------------------------------------------

    def parse(self) -> tuple:
        node = self.or_expr()
        if self.peek()[0] != "eof":
            raise ValueError(f"trailing tokens: {self.tokens[self.pos:]}")
        return node

    def or_expr(self) -> tuple:
        return self._chain("OR", self.and_expr)

    def and_expr(self) -> tuple:
        return self._chain("AND", self.not_expr)

    def _chain(self, word: str, operand) -> tuple:
        left = operand()
        while self._peek_word() == word:
            self.next()
            left = (word.lower(), left, operand())
        return left

    def not_expr(self) -> tuple:
        if self._peek_word() == "NOT":
            self.next()
            return ("not", self.not_expr())
        if self.peek()[0] == "lparen":
            self.next()
            node = self.or_expr()
            self.expect("rparen")
            return node
        return self.predicate()

    # -- predicates ------------------------------------------------------------

    def predicate(self) -> tuple:
        w = self._peek_word()
        if w in SPATIAL_OPS:
            return self.spatial()
        if w == "IN":
            return self.attribute(None)
        if w in ("INCLUDE", "EXCLUDE"):
            # constant filters (geotools Filter.INCLUDE / Filter.EXCLUDE)
            self.next()
            return ("const", w == "INCLUDE")
        # expression-first predicates: a literal or an ECQL function call on
        # the left of the comparison ('BILL' = strToUpperCase(name), ...)
        if self.peek()[0] in ("string", "number") or self._is_fn_call():
            lhs = self.value()
            return ("cmp", self.expect("op"), lhs, self.value())
        prop = self.expect("word")
        w = self._peek_word()
        if w == "DURING":
            self.next()
            lo = _instant(self.expect("iso"))
            self.expect("slash")
            return ("during", prop, lo, _instant(self.expect("iso")))
        if w in _TEMPORAL:
            self.next()
            return ("cmp", _TEMPORAL[w], ("prop", prop), ("lit", _instant(self.expect("iso"))))
        if w == "IS":
            self.next()
            negated = self._peek_word() == "NOT"
            if negated:
                self.next()
            self.expect("word", "NULL")
            return ("not", ("isnull", prop)) if negated else ("isnull", prop)
        if w == "NOT":
            self.next()
            if self._peek_word() not in _ATTRIBUTE:
                raise ValueError(f"unexpected NOT {self._peek_word()}")
            return ("not", self.attribute(prop))
        if w in _ATTRIBUTE:
            return self.attribute(prop)
        k, op = self.next()
        if k != "op":
            raise ValueError(f"expected operator after {prop}, got {op!r}")
        # a function on the right (name = strToLowerCase('bill')), else a
        # literal, where a bare word is a string (reference: unquoted vals)
        rhs = self.value() if self._is_fn_call() else ("lit", self.literal())
        return ("cmp", op, ("prop", prop), rhs)

    def attribute(self, prop: str | None) -> tuple:
        w = self.expect("word").upper()
        if w == "BETWEEN":
            lo = self.literal()
            self.expect("word", "AND")
            return ("between", prop, lo, self.literal())
        if w in ("LIKE", "ILIKE"):
            k, v = self.next()
            return ("like", prop, v[1:-1].replace("''", "'") if k == "string" else v,
                    w == "ILIKE")
        return ("in", prop, self._items(self.literal))

    def _items(self, item) -> list:
        """A parenthesized, comma-separated list of ``item()``."""
        self.expect("lparen")
        out = [] if self.peek()[0] == "rparen" else [item()]
        while self.peek()[0] == "comma":
            self.next()
            out.append(item())
        self.expect("rparen")
        return out

    def literal(self):
        k, v = self.next()
        if k == "string":
            s = v[1:-1].replace("''", "'")
            return _instant(s) if _ISO.match(s) else s
        if k == "number":
            return float(v) if "." in v or "e" in v.lower() else int(v)
        if k == "iso":
            return _instant(v)
        if k == "word":
            return v  # bare word treated as string (reference: unquoted vals)
        raise ValueError(f"expected literal, got {k} {v!r}")

    def value(self) -> tuple:
        """A comparison operand: literal, property reference, or (possibly
        nested) function call."""
        k, v = self.peek()
        if self._is_fn_call():
            self.next()
            return ("fn", v, self._items(self.value))
        if k == "word":
            self.next()
            if v.upper() in ("TRUE", "FALSE"):
                return ("lit", v.upper() == "TRUE")
            return ("prop", v)  # bare word in expression position = property
        return ("lit", self.literal())

    # -- spatial ----------------------------------------------------------------

    def spatial(self) -> tuple:
        op = self.expect("word").upper()
        self.expect("lparen")
        if self.peek()[0] == "string":
            # geometry-first form — contains('POLYGON (...)', geom) — maps
            # to the converse property-first operator (geotools accepts
            # either argument order; AttributeIndexTest.scala:223 uses it)
            g = wkt.wkt_dumps(wkt.wkt_loads(self.literal()))
            self.expect("comma")
            prop = self.expect("word")
            self.expect("rparen")
            return ("spatial", {"CONTAINS": "WITHIN", "WITHIN": "CONTAINS"}.get(op, op), prop, g)
        prop = self.expect("word")
        self.expect("comma")
        if op == "BBOX":
            nums = [float(self.literal())]
            for _ in range(3):
                self.expect("comma")
                nums.append(float(self.literal()))
            self.expect("rparen")
            return ("spatial", "INTERSECTS", prop, wkt.wkt_dumps(model.box(*nums)))
        g = self.geometry()
        if op in ("DWITHIN", "BEYOND"):
            self.expect("comma")
            dist = float(self.literal())
            self.expect("comma")
            units = self.expect("word").lower()
            if self._peek_word() == "MILES":  # statute / nautical miles
                units += " " + self.next()[1].lower()
            if units not in UNITS:
                raise ValueError(f"unknown DWITHIN units {units!r}: "
                                 f"expected one of {', '.join(UNITS)}")
            self.expect("rparen")
            node = ("dwithin", prop, g, UNITS[units] * dist)
            return node if op == "DWITHIN" else ("not", node)
        self.expect("rparen")
        return ("spatial", op, prop, g)

    def geometry(self) -> str:
        """A WKT literal: a word and its balanced parens, as canonical WKT."""
        parts, depth = [self.expect("word")], 0
        while depth or len(parts) == 1:
            k, v = self.next()
            depth += (k == "lparen") - (k == "rparen")
            parts.append(v)
        return wkt.wkt_dumps(wkt.wkt_loads(" ".join(parts)))


def parse(text: str) -> tuple:
    """The tree of an ECQL filter string (module docstring)."""
    return EcqlParser(text).parse()


def to_degrees(meters: float, geom: model.Geometry) -> float:
    """Meters -> planar degrees at the query geometry's mean latitude
    (GeometryProcessing.scala:38-71 conversion role)."""
    _, ymin, _, ymax = geom.bounds
    lat = (ymin + ymax) / 2.0
    return meters / (M_PER_DEG * max(math.cos(math.radians(lat)), 0.01))


def points_dwithin_udf(geom: model.Geometry, distance_deg: float):
    """The point DWITHIN refine as a pandas UDF of (lon, lat):
    ``algos.points_dwithin`` per Arrow batch."""
    def within(lon, lat):
        return pd.Series(algos.points_dwithin(
            lon.to_numpy(np.float64), lat.to_numpy(np.float64), geom, distance_deg))

    return F.pandas_udf(within, BooleanType())


# -- SQL ----------------------------------------------------------------------

def is_instant(v: tuple) -> bool:
    """True for an instant literal node."""
    return v[0] == "lit" and isinstance(v[1], datetime)


def _value_sql(v: tuple, instant: bool = False) -> str:
    """A value node as SQL; a property compared with an instant is cast to
    a timestamp."""
    if v[0] == "prop":
        return f"CAST(`{v[1]}` AS TIMESTAMP)" if instant else f"`{v[1]}`"
    if v[0] == "lit":
        return sql_literal(v[1])
    return _fn_sql(v[1], v[2])


_SQL_FUNCTIONS = {"strToUpperCase": "upper", "strToLowerCase": "lower",
                  "strCapitalize": "initcap", "strTrim": "trim", "strConcat": "concat",
                  "strLength": "length", "abs": "abs", "ceil": "ceil",
                  "floor": "floor", "min": "least", "max": "greatest"}


def _fn_sql(name: str, args: list) -> str:
    """An ECQL filter function as native SQL: the geotools FilterFunction
    surface the reference evaluates inside filters
    (AttributeIndexTest.scala:151-180 exercises the string/math set)."""
    sql = [_value_sql(a) for a in args]
    if name in _SQL_FUNCTIONS:
        return f"{_SQL_FUNCTIONS[name]}({', '.join(sql)})"
    if name in ("strIndexOf", "strStartsWith", "strEndsWith"):
        # a literal needle is matched as text, whatever its type
        s, needle = sql[0], _value_sql(("lit", str(args[1][1])) if args[1][0] == "lit"
                                       else args[1])
        if name == "strIndexOf":
            # geotools returns the 0-based index, -1 when absent
            return f"locate({needle}, {s}) - 1"
        return f"{'startswith' if name == 'strStartsWith' else 'endswith'}({s}, {needle})"
    if name == "strEqualsIgnoreCase":
        return f"upper({sql[0]}) = upper({sql[1]})"
    if name == "strSubstring":
        # geotools: [begin, end) 0-based -> substring is 1-based + length
        b, e = (f"CAST({x} AS INT)" for x in sql[1:3])
        return f"substring({sql[0]}, {b} + 1, {e} - {b})"
    if name == "strReplace":
        # geotools strReplace delegates to Java String.replaceAll /
        # replaceFirst (FilterFunction_strReplace): the pattern is a
        # Java regex and the REPLACEMENT follows java.util.regex.Matcher
        # semantics ($n group references, backslash escapes).  Spark's
        # regexp_replace shares those semantics exactly, so the
        # replace-all form passes both through verbatim.
        pat, repl, every = (str(a[1]) for a in args[1:4])
        if every.lower() in ("true", "1"):
            return f"regexp_replace({sql[0]}, {sql_literal(pat)}, {sql_literal(repl)})"
        # First-occurrence-only: anchor the pattern behind a non-greedy
        # DOTALL prefix capture.  The injected group shifts every
        # capture-group number by one, so $n in the replacement is
        # renumbered to $(n+1); a pattern carrying its own backreference
        # (\1) would silently re-bind to the prefix group -> loud error.
        if _java_regex_has_backref(pat):
            raise ValueError(
                "strReplace(..., false): pattern backreferences (\\n) "
                "are unsupported — the first-occurrence rewrite injects "
                f"a prefix capture group that shifts their binding: {pat!r}")
        return (f"regexp_replace({sql[0]}, {sql_literal(f'(?s)^((?:.)*?)(?:{pat})')}, "
                f"{sql_literal('$1' + _shift_dollar_refs(repl))})")
    raise ValueError(f"unsupported ECQL function: {name!r}")


def _spatial_sql(op: str, prop: str, g: model.Geometry, ctx: EcqlContext) -> str:
    if ctx.prefer_lonlat:
        # point tables: bbox primary filter + native refine over lon/lat
        # (plans/refine.py); BBOX arrives here as a rectangle INTERSECTS
        if op in ("INTERSECTS", "DISJOINT", "WITHIN", "TOUCHES"):
            return refine.point_predicate(g, op, ctx.lon_col, ctx.lat_col)
        if op in ("CONTAINS", "EQUALS") and isinstance(g, model.Point):
            return (f"`{ctx.lon_col}` = {refine.sql_double(g.x)}"
                    f" AND `{ctx.lat_col}` = {refine.sql_double(g.y)}")
        # points can only CONTAIN/EQUAL coincident points; never
        # overlap/cross anything
        return "false"
    # WKB geometry column path: the ST_* function surface
    return f"st_{op.lower()}(`{prop}`, X'{wkb_dumps(g).hex()}')"


def _leaf_sql(node: tuple, ctx: EcqlContext) -> str:
    kind = node[0]
    if kind == "const":
        return sql_literal(node[1])
    if kind == "cmp":
        _, op, lhs, rhs = node
        instant = is_instant(lhs) or is_instant(rhs)
        return f"{_value_sql(lhs, instant)} {op} {_value_sql(rhs, instant)}"
    if kind == "spatial":
        return _spatial_sql(node[1], node[2], wkt.wkt_loads(node[3]), ctx)
    if kind == "dwithin":
        g = wkt.wkt_loads(node[2])
        return (f"st_dwithin(`{node[1]}`, X'{wkb_dumps(g).hex()}',"
                f" {refine.sql_double(to_degrees(node[3], g))})")
    prop = f"`{node[1] or ctx.fid_col}`"
    if kind == "isnull":
        return f"{prop} IS NULL"
    if kind == "like":
        _, _, pattern, ci = node
        if ci:
            return f"upper({prop}) LIKE {sql_literal(pattern.upper())}"
        return f"{prop} LIKE {sql_literal(pattern)}"
    values = node[2] if kind == "in" else node[2:]
    if any(isinstance(x, datetime) for x in values):
        prop = f"CAST({prop} AS TIMESTAMP)"
    lits = [sql_literal(x) for x in values]
    if kind == "in":
        return f"{prop} IN ({', '.join(lits)})"
    if kind == "between":
        return f"{prop} BETWEEN {lits[0]} AND {lits[1]}"
    return f"{prop} > {lits[0]} AND {prop} < {lits[1]}"  # during: exclusive


def _column(node: tuple, ctx: EcqlContext) -> Column:
    kind = node[0]
    if kind in ("and", "or"):
        a, b = _column(node[1], ctx), _column(node[2], ctx)
        return a & b if kind == "and" else a | b
    if kind == "not":
        return ~F.coalesce(_column(node[1], ctx), F.lit(False))
    if kind == "dwithin" and ctx.prefer_lonlat:
        # the one Column leaf: the point DWITHIN refine is a pandas UDF,
        # behind a bbox primary filter that pushes down to the scan: the
        # bounds grown by d and a margin far above the kernel's rounding
        g = wkt.wkt_loads(node[2])
        if g.is_empty:
            return F.expr("false")
        d = to_degrees(node[3], g)
        pad = d + 1e-9 * (1.0 + d + max(abs(v) for v in g.bounds))
        x0, y0, x1, y1 = g.bounds
        box = refine.bbox_sql((x0 - pad, y0 - pad, x1 + pad, y1 + pad), ctx.lon_col, ctx.lat_col)
        return F.expr(box) & points_dwithin_udf(g, d)(ctx.lon_col, ctx.lat_col)
    return F.expr(_leaf_sql(node, ctx))


def ecql_to_column(text: str, ctx: EcqlContext | None = None) -> Column:
    """Compile an ECQL filter string to a Catalyst predicate Column: one SQL
    expression per leaf of its tree."""
    return _column(parse(text), ctx or EcqlContext())
