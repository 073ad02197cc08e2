"""ECQL (OGC CQL) filter parser + Catalyst compiler.

The reference's query language surface (geomesa-filter: FastFilterFactory /
ECQL.toFilter) re-expressed for Spark: an ECQL string compiles to a
``pyspark.sql.Column`` predicate over a DataFrame with a WKB ``geom`` column
(or plain lon/lat for point tables) plus attribute/timestamp columns.

Supported grammar (the subset exercised by the reference's FilterTest corpus,
TestFilters.scala:16-220):

  expr        := or_expr
  or_expr     := and_expr (OR and_expr)*
  and_expr    := not_expr (AND not_expr)*
  not_expr    := NOT not_expr | '(' expr ')' | predicate
  predicate   := spatial | temporal | comparison | in_list
  spatial     := INTERSECTS|DISJOINT|CONTAINS|WITHIN|OVERLAPS|CROSSES|TOUCHES
                 '(' prop ',' geometry ')'
               | BBOX '(' prop ',' n ',' n ',' n ',' n ')'
               | DWITHIN '(' prop ',' geometry ',' n ',' units ')'
  temporal    := prop DURING iso '/' iso | prop BEFORE iso | prop AFTER iso
  comparison  := prop (=|<>|<|<=|>|>=) literal | prop [NOT] BETWEEN lit AND lit
               | prop [I]LIKE pattern | prop IS [NOT] NULL
  in_list     := [prop] IN '(' literal, ... ')'      (bare IN = feature IDs)

DWITHIN meters are converted to planar degrees with the mean-latitude factor
(the reference converts geodesic meters to degrees:
filter/GeometryProcessing.scala:38-71).
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

from geomesa_spark.geom import model, wkt
from geomesa_spark.geom.wkb import wkb_dumps
from geomesa_spark.plans import refine

SPATIAL_OPS = {"INTERSECTS", "DISJOINT", "CONTAINS", "WITHIN", "OVERLAPS",
               "CROSSES", "TOUCHES", "EQUALS", "BBOX", "DWITHIN", "BEYOND"}

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
    """True when a Java regex contains a group backreference ``\\n``.

    Walked char-by-char so escaped backslashes are handled (``\\\\1`` is a
    literal backslash then '1', not a backreference); ``\\0`` is an octal
    escape, not a backreference."""
    i = 0
    while i < len(pat):
        if pat[i] == "\\" and i + 1 < len(pat):
            if pat[i + 1].isdigit() and pat[i + 1] != "0":
                return True
            i += 2
            continue
        i += 1
    return False


def _shift_dollar_refs(repl: str) -> str:
    """Renumber ``$n`` group references in a Java Matcher replacement by +1
    (the strReplace first-occurrence rewrite injects a prefix group that
    becomes group 1).  ``\\$``/``\\\\`` escapes pass through untouched; a
    bare ``$`` is an error in Java too; ``$0`` (the whole match) cannot be
    shifted because the rewritten match includes the injected prefix."""
    out: list[str] = []
    i = 0
    while i < len(repl):
        ch = repl[i]
        if ch == "\\" and i + 1 < len(repl):
            out.append(repl[i:i + 2])
            i += 2
            continue
        if ch == "$":
            j = i + 1
            while j < len(repl) and repl[j].isdigit():
                j += 1
            if j == i + 1:
                raise ValueError(
                    f"strReplace replacement has a dangling '$': {repl!r}")
            num = int(repl[i + 1:j])
            if num == 0:
                raise ValueError(
                    "strReplace(..., false): $0 (whole-match reference) is "
                    "unsupported — the rewritten match includes the "
                    "injected anchor prefix")
            out.append(f"${num + 1}")
            i = j
            continue
        out.append(ch)
        i += 1
    return "".join(out)


@dataclass
class EcqlContext:
    geom_col: str = "geom"        # WKB geometry column
    lon_col: str = "lon"          # used when geometry is point lon/lat
    lat_col: str = "lat"
    fid_col: str = "__fid__"
    prefer_lonlat: bool = False   # point tables: use lon/lat kernels directly


class EcqlParser:
    def __init__(self, text: str, ctx: EcqlContext | None = None):
        self.tokens = _tokenize(text)
        self.pos = 0
        self.ctx = ctx or EcqlContext()

    # -- token helpers -------------------------------------------------------

    def peek(self) -> tuple[str, str]:
        return self.tokens[self.pos]

    def next(self) -> tuple[str, str]:
        if self.pos >= len(self.tokens):
            raise ValueError("unexpected end of ECQL filter")
        t = self.tokens[self.pos]
        self.pos += 1
        return t

    def expect(self, kind: str, value: str | None = None) -> str:
        k, v = self.next()
        if k != kind or (value is not None and v.upper() != value):
            raise ValueError(f"expected {kind} {value or ''}, got {k} {v!r}")
        return v

    def _peek_word(self) -> str | None:
        k, v = self.peek()
        return v.upper() if k == "word" else None

    # -- grammar --------------------------------------------------------------

    def parse(self) -> Column:
        col = self.or_expr()
        if self.peek()[0] != "eof":
            raise ValueError(f"trailing tokens: {self.tokens[self.pos:]}")
        return col

    def or_expr(self) -> Column:
        left = self.and_expr()
        while self._peek_word() == "OR":
            self.next()
            left = left | self.and_expr()
        return left

    def and_expr(self) -> Column:
        left = self.not_expr()
        while self._peek_word() == "AND":
            self.next()
            left = left & self.not_expr()
        return left

    def not_expr(self) -> Column:
        if self._peek_word() == "NOT":
            self.next()
            # NOT uses 2-valued semantics on nullable comparisons like the
            # reference's filter evaluation: missing (null) => filter false,
            # NOT(filter) true. coalesce(false) before negating.
            inner = self.not_expr()
            return ~F.coalesce(inner, F.lit(False))
        if self.peek()[0] == "lparen":
            self.next()
            col = self.or_expr()
            self.expect("rparen")
            return col
        return self.predicate()

    # -- predicates ------------------------------------------------------------

    def predicate(self) -> Column:
        k, v = self.peek()
        if k == "word" and v.upper() in SPATIAL_OPS:
            return self.spatial()
        if k == "word" and v.upper() == "IN":
            return self.in_list(self.ctx.fid_col)
        if k == "word" and v.upper() in ("INCLUDE", "EXCLUDE"):
            # constant filters (geotools Filter.INCLUDE / Filter.EXCLUDE)
            self.next()
            return F.lit(v.upper() == "INCLUDE")
        # expression-first predicates: a literal or an ECQL function call on
        # the left of the comparison ('BILL' = strToUpperCase(name), ...)
        if k in ("string", "number") or (k == "word" and self._is_fn_call()):
            lhs = self.expr_value()
            k2, op = self.next()
            if k2 != "op":
                raise ValueError(f"expected operator, got {op!r}")
            return self._compare(lhs, op, self.expr_value())
        # property-first predicates
        prop = self.expect("word")
        w = self._peek_word()
        if w == "DURING":
            self.next()
            lo = self.expect("iso")
            self.expect("slash")
            hi = self.expect("iso")
            c = F.col(prop).cast("timestamp")
            return (c > F.lit(_ts(lo)).cast("timestamp")) & (c < F.lit(_ts(hi)).cast("timestamp"))
        if w in ("BEFORE", "AFTER"):
            self.next()
            t = self.expect("iso")
            c = F.col(prop).cast("timestamp")
            return c < F.lit(_ts(t)).cast("timestamp") if w == "BEFORE" \
                else c > F.lit(_ts(t)).cast("timestamp")
        if w == "TEQUALS":
            # strict temporal equality (ECQL TEquals, unquoted ISO operand)
            self.next()
            t = self.expect("iso")
            return F.col(prop).cast("timestamp") == F.lit(_ts(t)).cast("timestamp")
        if w == "NOT":
            self.next()
            w2 = self._peek_word()
            if w2 == "BETWEEN":
                return ~F.coalesce(self._between(prop), F.lit(False))
            if w2 in ("LIKE", "ILIKE"):
                return ~F.coalesce(self._like(prop), F.lit(False))
            if w2 == "IN":
                return ~F.coalesce(self.in_list(prop), F.lit(False))
            raise ValueError(f"unexpected NOT {w2}")
        if w == "BETWEEN":
            return self._between(prop)
        if w in ("LIKE", "ILIKE"):
            return self._like(prop)
        if w == "IN":
            return self.in_list(prop)
        if w == "IS":
            self.next()
            if self._peek_word() == "NOT":
                self.next()
                self.expect("word", "NULL")
                return F.col(prop).isNotNull()
            self.expect("word", "NULL")
            return F.col(prop).isNull()
        # comparison operator
        k2, op = self.next()
        if k2 != "op":
            raise ValueError(f"expected operator after {prop}, got {op!r}")
        if self._is_fn_call():
            # function on the right: name = strToLowerCase('bill')
            return self._compare(F.col(prop), op, self.expr_value())
        lit = self.literal()
        c = F.col(prop)
        if isinstance(lit, str) and _ISO.match(lit):
            c = c.cast("timestamp")
            lit = _ts(lit)
            return {"=": c == F.lit(lit).cast("timestamp"),
                    "<>": c != F.lit(lit).cast("timestamp"),
                    "<": c < F.lit(lit).cast("timestamp"), "<=": c <= F.lit(lit).cast("timestamp"),
                    ">": c > F.lit(lit).cast("timestamp"), ">=": c >= F.lit(lit).cast("timestamp")}[op]
        return {"=": c == lit, "<>": c != lit, "<": c < lit,
                "<=": c <= lit, ">": c > lit, ">=": c >= lit}[op]

    def _between(self, prop: str) -> Column:
        self.expect("word", "BETWEEN")
        lo = self.literal()
        self.expect("word", "AND")
        hi = self.literal()
        c = F.col(prop)
        if isinstance(lo, str) and _ISO.match(str(lo)):
            return c.cast("timestamp").between(F.lit(_ts(lo)).cast("timestamp"),
                                               F.lit(_ts(hi)).cast("timestamp"))
        return c.between(lo, hi)

    def _like(self, prop: str) -> Column:
        ci = self.expect("word").upper() == "ILIKE"
        pattern = self.literal()
        if ci:
            return F.upper(F.col(prop)).like(str(pattern).upper())
        return F.col(prop).like(str(pattern))

    def in_list(self, prop: str) -> Column:
        self.expect("word", "IN")
        self.expect("lparen")
        vals = [self.literal()]
        while self.peek()[0] == "comma":
            self.next()
            vals.append(self.literal())
        self.expect("rparen")
        return F.col(prop).isin(vals)

    def literal(self):
        k, v = self.next()
        if k == "string":
            return v[1:-1].replace("''", "'")
        if k == "number":
            f = float(v)
            return int(f) if f.is_integer() and "." not in v and "e" not in v.lower() else f
        if k == "iso":
            return v
        if k == "word":
            return v  # bare word treated as string (reference: unquoted vals)
        raise ValueError(f"expected literal, got {k} {v!r}")

    # -- ECQL filter functions ---------------------------------------------------
    # The geotools FilterFunction surface the reference evaluates inside
    # filters (AttributeIndexTest.scala:151-180 exercises the string/math
    # set) compiled to native Catalyst expressions.

    def _is_fn_call(self) -> bool:
        k, v = self.peek()
        return (k == "word" and v.upper() not in SPATIAL_OPS
                and self.tokens[self.pos + 1][0] == "lparen")

    def expr_value(self):
        """A comparison operand: literal, property reference, or (possibly
        nested) function call.  Returns a Column for properties/functions,
        a python value for literals."""
        k, v = self.peek()
        if k == "word":
            if self._is_fn_call():
                name = self.next()[1]
                self.expect("lparen")
                args = []
                if self.peek()[0] != "rparen":
                    args.append(self.expr_value())
                    while self.peek()[0] == "comma":
                        self.next()
                        args.append(self.expr_value())
                self.expect("rparen")
                return self._apply_fn(name, args)
            self.next()
            return F.col(v)  # bare word in expression position = property
        return self.literal()

    @staticmethod
    def _compare(lhs, op: str, rhs) -> Column:
        if not isinstance(lhs, Column):
            lhs = F.lit(lhs)
        return {"=": lhs == rhs, "<>": lhs != rhs, "<": lhs < rhs,
                "<=": lhs <= rhs, ">": lhs > rhs, ">=": lhs >= rhs}[op]

    @staticmethod
    def _apply_fn(name: str, args: list) -> Column:
        def col(a):
            return a if isinstance(a, Column) else F.lit(a)

        n = name
        if n == "strToUpperCase":
            return F.upper(col(args[0]))
        if n == "strToLowerCase":
            return F.lower(col(args[0]))
        if n == "strCapitalize":
            return F.initcap(col(args[0]))
        if n == "strTrim":
            return F.trim(col(args[0]))
        if n == "strConcat":
            return F.concat(col(args[0]), col(args[1]))
        if n == "strLength":
            return F.length(col(args[0]))
        if n == "strIndexOf":
            # geotools returns the 0-based index, -1 when absent; geotools
            # allows any expression as the needle, so route Column needles
            # through the SQL locate function (F.locate only takes str)
            sub = args[1]
            if isinstance(sub, Column):
                return F.call_function("locate", sub, col(args[0])) - 1
            return F.locate(str(sub), col(args[0])) - 1
        if n == "strStartsWith":
            return col(args[0]).startswith(
                args[1] if isinstance(args[1], Column) else str(args[1]))
        if n == "strEndsWith":
            return col(args[0]).endswith(
                args[1] if isinstance(args[1], Column) else str(args[1]))
        if n == "strEqualsIgnoreCase":
            return F.upper(col(args[0])) == F.upper(col(args[1]))
        if n == "strSubstring":
            # geotools: [begin, end) 0-based -> substring is 1-based + length
            b, e = args[1], args[2]
            if isinstance(b, Column) or isinstance(e, Column):
                bc, ec = col(b).cast("int"), col(e).cast("int")
                return F.substring(col(args[0]), bc + F.lit(1), ec - bc)
            begin, end = int(b), int(e)
            return F.substring(col(args[0]), begin + 1, end - begin)
        if n == "strReplace":
            # geotools strReplace delegates to Java String.replaceAll /
            # replaceFirst (FilterFunction_strReplace): the pattern is a
            # Java regex and the REPLACEMENT follows java.util.regex.Matcher
            # semantics ($n group references, backslash escapes).  Spark's
            # regexp_replace shares those semantics exactly, so the
            # replace-all form passes both through verbatim.
            c, pat, repl = col(args[0]), str(args[1]), str(args[2])
            replace_all = str(args[3]).lower() in ("true", "1")
            if replace_all:
                return F.regexp_replace(c, pat, repl)
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
            return F.regexp_replace(c, f"(?s)^((?:.)*?)(?:{pat})",
                                    "$1" + _shift_dollar_refs(repl))
        if n == "abs":
            return F.abs(col(args[0]))
        if n == "ceil":
            return F.ceil(col(args[0]))
        if n == "floor":
            return F.floor(col(args[0]))
        if n == "min":
            return F.least(col(args[0]), col(args[1]))
        if n == "max":
            return F.greatest(col(args[0]), col(args[1]))
        raise ValueError(f"unsupported ECQL function: {name!r}")

    # -- spatial ----------------------------------------------------------------

    def spatial(self) -> Column:
        op = self.expect("word").upper()
        self.expect("lparen")
        if self.peek()[0] == "string":
            # geometry-first form — contains('POLYGON (...)', geom) — maps
            # to the converse property-first operator (geotools accepts
            # either argument order; AttributeIndexTest.scala:223 uses it)
            g = wkt.wkt_loads(self.next()[1][1:-1])
            self.expect("comma")
            prop = self.expect("word")
            self.expect("rparen")
            op = {"CONTAINS": "WITHIN", "WITHIN": "CONTAINS"}.get(op, op)
            return self._spatial_predicate(op, prop, g)
        prop = self.expect("word")
        self.expect("comma")
        if op == "BBOX":
            nums = [self.literal()]
            for _ in range(3):
                self.expect("comma")
                nums.append(self.literal())
            self.expect("rparen")
            xmin, ymin, xmax, ymax = [float(n) for n in nums]
            geom = model.box(xmin, ymin, xmax, ymax)
            return self._spatial_predicate("INTERSECTS", prop, geom)
        geom = self.geometry()
        if op in ("DWITHIN", "BEYOND"):
            self.expect("comma")
            dist = float(self.literal())
            self.expect("comma")
            units = self.expect("word").lower()
            self.expect("rparen")
            deg = _to_degrees(dist, units, geom)
            col = self._dwithin(prop, geom, deg)
            return col if op == "DWITHIN" else ~F.coalesce(col, F.lit(False))
        self.expect("rparen")
        return self._spatial_predicate(op, prop, geom)

    def geometry(self) -> model.Geometry:
        # consume a WKT literal: WORD ( ... ) with balanced parens
        typ = self.expect("word").upper()
        depth = 0
        parts = [typ]
        while True:
            k, v = self.next()
            if k == "lparen":
                depth += 1
                parts.append("(")
            elif k == "rparen":
                depth -= 1
                parts.append(")")
                if depth == 0:
                    break
            elif k == "comma":
                parts.append(",")
            else:
                parts.append(" " + v)
        return wkt.wkt_loads("".join(parts))

    def _spatial_predicate(self, op: str, prop: str, geom: model.Geometry) -> Column:
        ctx = self.ctx
        if ctx.prefer_lonlat:
            # point tables: bbox primary filter + native refine over lon/lat
            # (plans/refine.py); BBOX arrives here as a rectangle INTERSECTS
            if op in ("INTERSECTS", "DISJOINT", "WITHIN", "TOUCHES"):
                return refine.point_predicate(geom, op, ctx.lon_col, ctx.lat_col)
            if op in ("CONTAINS", "EQUALS") and isinstance(geom, model.Point):
                # points can only CONTAIN/EQUAL coincident points; never
                # overlap/cross anything
                return (F.col(ctx.lon_col) == geom.x) & (F.col(ctx.lat_col) == geom.y)
            if op in ("CONTAINS", "OVERLAPS", "CROSSES", "EQUALS"):
                return F.lit(False)
            raise ValueError(op)
        # WKB geometry column path: dispatch to the ST_* function surface
        fn = {"INTERSECTS": "st_intersects", "DISJOINT": "st_disjoint",
              "CONTAINS": "st_contains", "WITHIN": "st_within",
              "OVERLAPS": "st_overlaps", "CROSSES": "st_crosses",
              "TOUCHES": "st_touches", "EQUALS": "st_equals"}[op]
        lit = F.lit(bytearray(wkb_dumps(geom)))
        return F.call_udf(fn, F.col(prop), lit)

    def _dwithin(self, prop: str, geom: model.Geometry, deg: float) -> Column:
        ctx = self.ctx
        if ctx.prefer_lonlat:
            from geomesa_spark.plans.query import points_dwithin_udf
            return points_dwithin_udf(geom, deg)(F.col(ctx.lon_col), F.col(ctx.lat_col))
        return F.call_udf("st_dwithin", F.col(prop),
                          F.lit(bytearray(wkb_dumps(geom))), F.lit(float(deg)))


_ISO = re.compile(r"^\d{4}-\d{2}-\d{2}T")


def _ts(iso: str) -> str:
    return iso.replace("T", " ").rstrip("Z")


def _to_degrees(dist: float, units: str, geom: model.Geometry) -> float:
    """meters/km/feet -> planar degrees at the query geometry's mean latitude
    (GeometryProcessing.scala:38-71 conversion role)."""
    meters = {"meters": 1.0, "kilometers": 1000.0, "feet": 0.3048,
              "statute miles": 1609.344, "nautical miles": 1852.0}.get(units, 1.0) * dist
    _, ymin, _, ymax = geom.bounds
    lat = (ymin + ymax) / 2.0
    return meters / (M_PER_DEG * max(math.cos(math.radians(lat)), 0.01))


def ecql_to_column(text: str, ctx: EcqlContext | None = None) -> Column:
    """Compile an ECQL filter string to a Catalyst predicate Column."""
    return EcqlParser(text, ctx).parse()
