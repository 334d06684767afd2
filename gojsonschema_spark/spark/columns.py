"""Compile a JSON Schema into a pure-SQL Spark Column predicate DAG.

The hot path of the engine (SURVEY.md §1.4/§4): each schema node lowers to
a boolean ``Column`` over a VARIANT value. Everything stays JVM-side inside
whole-stage codegen — type dispatch via cheap variant probes (container casts + to_json first-char), presence via
``element_at`` on a ``map<string,variant>`` cast (missing vs null is
preserved: a JSON null is a non-SQL-null VOID variant), numeric comparisons
on lexical-preserving DECIMAL casts with a DOUBLE fallback, regex via
``rlike`` with an RE2->Java anchor fix ($ -> \\z).

One recursive walk lowers each node to a pair ``(pred, det)``: the
verdict predicate and its reach detector. Where a site cannot be decided
exactly in SQL (a cyclic ``$ref`` past the unroll, composite
``uniqueItems``, ``multipleOf`` on an overflowed number, a UDF format
inside a higher-order-function lambda) the predicate is an optimistic
TRUE and the site emits a detector; every recursion site lifts its
children's detectors to its own value where it composes their
predicates. Rows the root detector flags are re-verdicted by the exact
interpreter (engine.py hybrid).

The same walk gives each site a violation emitter (``rows``): the
interpreter's violation rows for the site, built in SQL from the site's
own predicate (see "violation rows" below). A site without one (a
combinator, an array keyword, a ``$ref``, a UDF format, ...) leaves the
whole schema without SQL violation rows.

Schemas outside the expressible subset raise :class:`UnsupportedSchema`
and route to the Arrow-batched pandas-UDF interpreter instead (engine.py).
Known, documented divergences of the column path vs the exact interpreter:
numbers needing >38 significant digits or exact rationals beyond
DECIMAL(38,18) — including values whose lexical scale exceeds 18, e.g.
0.9999999999999999999, which _num_dec deliberately refuses rather than
letting Spark's decimal cast round it — are compared in double precision
(the bignum-exact path is the interpreter; see tests/test_spark_engine.py
differential gate).
"""

from __future__ import annotations

import functools
import json
import math
import threading
from contextlib import contextmanager
from fractions import Fraction

from pyspark.sql import Column, functions as F

from ..core.compiler import CompiledSchema, SubSchema
from ..core.errors import ROOT_CONTEXT, Violation, field_of
from ..core.goregex import JavaRegexDivergence, translate_re2_java
from .format_columns import format_column_pred

__all__ = ["ColumnPlanCompiler", "UnsupportedSchema", "shared_predicates",
           "violations_inexact"]

_SIMPLE_KEY = __import__("re").compile(r"^[^\x00-\x1f]*$")


class UnsupportedSchema(Exception):
    """Schema uses semantics the Column plan cannot express faithfully."""


def _java_pattern(src: str) -> str:
    """RE2 -> Java rlike pattern; Java-divergent syntax routes the whole
    schema to the exact interpreter path."""
    try:
        return translate_re2_java(src)
    except JavaRegexDivergence as e:
        raise UnsupportedSchema(f"regex {src!r}: {e} (route to interpreter)")


def _to_double(frac) -> float:
    """float(Fraction) raises OverflowError past double range; the column
    compiler wants the IEEE overflow semantics (+-inf) so its range gates
    can reject the literal with UnsupportedSchema instead of crashing."""
    try:
        return float(frac)
    except OverflowError:
        return math.inf if frac > 0 else -math.inf


def _true() -> Column:
    return F.lit(True)


def _all(preds: list[Column]) -> Column:
    out = None
    for p in preds:
        out = p if out is None else (out & p)
    return out if out is not None else _true()


def _nn(c: Column) -> Column:
    """Null-safe boolean: missing/indeterminate counts as False.

    Uses eqNullSafe rather than coalesce: Coalesce/If/CaseWhen children are
    'conditional' to Catalyst's subexpression elimination, so wrapping every
    leaf in coalesce() disables CSE and the variant parse re-evaluates per
    keyword (measured 30x+ slowdown). EqualNullSafe keeps the tree
    unconditional -> parse_json/map-cast evaluate once per row."""
    return c.eqNullSafe(True)


# --- shared applications ------------------------------------------------------------
#
# Building a Column costs py4j round trips per expression node. The
# valid bit probes one value many times (its map, its string form), and
# the violation rows test the same site predicates, on the same values;
# inside shared_predicates() a predicate or probe applied again to the
# same Column returns the Column it built the first time. The expression
# trees are the same either way.

_SHARED = threading.local()


@contextmanager
def shared_predicates():
    """Within the block, plans applied to one variant Column share their
    predicate Columns (the valid bit, then its violation rows)."""
    _SHARED.memo = {}
    try:
        yield
    finally:
        _SHARED.memo = None


def _applied(fn, v: Column) -> Column:
    """``fn(v)``, shared inside :func:`shared_predicates`."""
    memo = getattr(_SHARED, "memo", None)
    if memo is None:
        return fn(v)
    key = (id(fn), id(v))
    if key not in memo:
        memo[key] = (fn, v, fn(v))  # fn and v held: their ids stay unique
    return memo[key][2]


def _shared(fn):
    """``fn(v)`` through :func:`_applied`."""
    @functools.wraps(fn)
    def apply(v: Column) -> Column:
        return _applied(fn, v)

    return apply


# --- variant type classification ---------------------------------------------
#
# schema_of_variant rebuilds a DDL type string per call and measured ~25x the
# cost of the variant parse itself; type dispatch instead uses cheap probes:
# container-ness via try-cast null-ness, scalar kind via the first character
# of to_json (``"`` string, ``t``/``f`` boolean, ``n`` null, digit/``-``
# number). All probes are plain deterministic expressions -> runtime CSE
# shares them across keywords.

@_shared
def _mp(v: Column) -> Column:
    return F.try_variant_get(v, "$", "map<string,variant>")


@_shared
def _arr(v: Column) -> Column:
    return F.try_variant_get(v, "$", "array<variant>")


@_shared
def _fc(v: Column) -> Column:
    """First char of the JSON rendering (scalar kind discriminator)."""
    return F.substring(_applied(F.to_json, v), 1, 1)


@_shared
def _is_null(v: Column) -> Column:
    return _nn(F.is_variant_null(v))


@_shared
def _is_string(v: Column) -> Column:
    # '"Infinity"' is also the rendering of an overflowed DOUBLE — see
    # _INF_RENDERINGS below; only such rows pay the schema_of_variant call
    txt = _applied(F.to_json, v)
    return _nn(F.when(txt.isin(*_INF_RENDERINGS),
                      F.schema_of_variant(v) == F.lit("STRING"))
                .otherwise(F.substring(txt, 1, 1) == '"'))


@_shared
def _is_boolean(v: Column) -> Column:
    return _nn(_fc(v).isin("t", "f"))


# A numeric literal beyond double range (|x| >= ~1.8e308) parses into the
# variant as double +-Infinity, which to_json renders as '"Infinity"' —
# IDENTICAL to the rendering of the STRING "Infinity". Only for rows that
# render exactly these three strings (~never) does the probe fall back to
# schema_of_variant (which costs ~25x the parse, hence never on the
# common path) to tell an overflowed double from a string.
_INF_RENDERINGS = ('"Infinity"', '"-Infinity"', '"NaN"')


@_shared
def _is_number(v: Column) -> Column:
    txt = _applied(F.to_json, v)
    return _nn(F.when(txt.isin(*_INF_RENDERINGS),
                      F.schema_of_variant(v) == F.lit("DOUBLE"))
                .otherwise(F.substring(txt, 1, 1).isin(
                    "-", "0", "1", "2", "3", "4", "5", "6", "7", "8", "9")))


@_shared
def _num_dec(v: Column) -> Column:
    """Exact decimal(38,18) value, or NULL when the cast would be lossy.

    Spark's decimal cast silently ROUNDS scale loss (0.9999999999999999999
    -> 1.000000000000000000), so values carrying NONZERO digits past scale
    18 must fall through to the double branch — an inexact compare inside
    the documented double-fallback caveat, but never a silently-rounded
    'exact' one. Lossiness is decided on the VALUE, not the lexical form:
    a rendering whose out-of-scale digits are all zeros ('1.00...0' at
    scale 19 == 1) keeps the decimal path, so numerically equal values can
    never straddle the decimal/double boundary and compare unequal (e.g.
    in _scalar_canon_key uniqueItems keys). The digits at fraction
    positions 19..S (S = frac_digits - exp, the effective scale) are the
    last S-18 significand digits."""
    txt = _applied(F.to_json, v)
    mant_int = F.regexp_extract(txt, r"^-?([0-9]+)", 1)
    frac = F.regexp_extract(txt, r"\.([0-9]+)", 1)
    exp = F.coalesce(
        F.regexp_extract(txt, r"[eE]([+-]?[0-9]+)", 1).try_cast("int"), F.lit(0))
    drop_n = F.length(frac) - exp - 18
    digits = F.concat(mant_int, frac)
    dropped = F.substring(digits,
                          F.greatest(F.length(digits) - drop_n + 1, F.lit(1)),
                          drop_n)
    lossy = (drop_n > 0) & dropped.rlike("[1-9]")
    return F.when(~lossy, F.try_variant_get(v, "$", "decimal(38,18)"))


@_shared
def _num_dbl(v: Column) -> Column:
    return F.try_variant_get(v, "$", "double")


def _scalar_canon_key(x: Column) -> Column:
    """Canonical-equality key for a SCALAR variant element (uniqueItems).

    The reference's marshalWithoutNumber (utils.go:84-104, used at
    validation.go:530-547) re-decodes numbers WITHOUT UseNumber — i.e.
    through float64 — so canonical number equality IS double equality:
    1, 1.0, 1e0 and 1.00000000000000000001 all collapse. The key is the
    double rendering (Double.toString is injective over distinct doubles);
    strings/bools/null are tagged by kind so '"1"' never collides with 1."""
    fc = _fc(x)
    num_key = F.concat(F.lit("d"), _num_dbl(x).cast("string"))
    return (F.when(F.is_variant_null(x), F.lit("n"))
             .when(fc == '"', F.concat(F.lit("s"),
                                       F.try_variant_get(x, "$", "string")))
             .when(fc.isin("t", "f"), fc)
             .otherwise(num_key))


_SCALAR_TYPES = {"string", "integer", "number", "boolean", "null"}


def _guarantees_scalar(node, depth: int = 0) -> bool:
    """True if every instance ACCEPTED by ``node`` is a JSON scalar — then
    arrays with composite elements already fail the items conjunction and
    uniqueItems' scalar-only SQL key is exact for all verdict-relevant rows."""
    if node is None or depth > 16:
        return False
    if node.ref_schema is not None:
        return _guarantees_scalar(node.ref_schema, depth + 1)
    if node.types and set(node.types) <= _SCALAR_TYPES:
        return True
    if node.const_ is not None and node.const_[:1] not in "[{":
        return True
    if node.enum and all(c[:1] not in "[{" for c in node.enum):
        return True
    if node.all_of and any(_guarantees_scalar(s, depth + 1) for s in node.all_of):
        return True
    return False


def _is_integer(v: Column) -> Column:
    # an overflowed literal (|x| >= 1.8e308, stored as +-Infinity) is
    # ALWAYS an integer: its exponent dwarfs any fractional digits
    # (m.dddEk with k >= 309 shifts every digit left of the point)
    return _is_number(v) & _nn(
        F.coalesce(
            _num_dec(v) % 1 == 0,
            F.when(_num_dbl(v).isin(float("inf"), float("-inf")), F.lit(True))
             .otherwise(_num_dbl(v) % 1.0 == 0.0),
        )
    )


_MAX_DEC = Fraction(10) ** 20  # decimal(38,18) integral range bound


# --- reach detectors ------------------------------------------------------------
#
# det(v) answers "could validating v reach a site the plan compiled
# optimistically?" Over-approximation is safe (extra rows just take the
# exact interpreter); None means no such site below.

def _det_any(dets: list):
    if len(dets) < 2:
        return dets[0] if dets else None

    def det(v: Column) -> Column:
        out = None
        for d in dets:
            c = _nn(d(v))
            out = c if out is None else (out | c)
        return out

    return det


def _det_at(pos, d):
    """``d`` at the value ``pos(v)`` selects (a property, a tuple slot)."""
    def det(v: Column) -> Column:
        x = pos(v)
        return x.isNotNull() & _nn(d(x))

    return det


def _det_exists(seq, d):
    """Some element of the array ``seq(v)`` reaches ``d``."""
    def det(v: Column) -> Column:
        s = seq(v)
        return s.isNotNull() & _nn(F.exists(s, lambda x: _nn(d(x))))

    return det


def _det_keys(match, d):
    """Some key ``k`` with ``match(k)`` reaches ``d`` at its value."""
    def det(v: Column) -> Column:
        mp = _mp(v)
        return mp.isNotNull() & _nn(F.exists(
            F.map_keys(mp), lambda k: match(k) & _nn(d(F.element_at(mp, k)))))

    return det


# --- violation rows ---------------------------------------------------------------
#
# rows(v, ctx) -> array of rows gives the rows the interpreter reports
# for the value v at context ctx (core/interpreter.py), in its order. A
# site emits when(pred, NULL) else its rows. A node concatenates its
# sites' rows in the interpreter's order, and a failed type check is its
# only row. Messages render through errors.Violation with the templates
# as they stand when the Columns are built; a detail known only at run
# time (an extra key) is spliced in where the template puts it.
#
# While the plan builds, a row is struct(col1 = its known fields, col2 =
# its value); the known fields are one literal, and _finished assembles
# the violation structs once, at the root (a per-row withField costs
# more analysis than the rest of the row).

_KNOWN_TYPE = ("struct<field:string,keyword:string,message:string,"
               "details:map<string,string>>")
_ROWS_TYPE = f"array<struct<col1:{_KNOWN_TYPE},col2:string>>"
_ARG = "\x00gjs-arg\x00"  # the run-time detail, while the message renders

# order of a node's sites: the interpreter checks number bounds, then the
# object's own keywords, then const/enum/format, then string keywords,
# then the properties; a value reaches only its own type's families
_NUMBER, _OBJECT, _COMMON, _STRING, _CHILD = range(5)
_NO_SITE = (None, None)  # a site without SQL rows


def _no_rows() -> Column:
    return F.array().cast(_ROWS_TYPE)


def _literal(value, ddl: str) -> Column:
    """A constant of type ``ddl`` as one Column: one JSON literal instead
    of one Column per field (each Column costs py4j round trips)."""
    return F.from_json(F.lit(json.dumps(value)), ddl)


def _known(keyword: str, ctx: tuple, details: dict) -> dict:
    """The fields of a row known now, as ``udf._violation_rows`` renders
    them."""
    return {"field": field_of(ctx), "keyword": keyword,
            "message": Violation(keyword, ctx, None, details).description(),
            "details": {k: str(x) for k, x in details.items()}}


def _violation(keyword: str, ctx: tuple, value: Column, details: dict) -> Column:
    """One row; at most one detail is a Column, the others are known now."""
    args = [x for x in details.values() if isinstance(x, Column)]
    if len(args) > 1:
        raise ValueError(f"{keyword}: more than one run-time detail")
    if not args:
        known = _literal(_known(keyword, ctx, details), _KNOWN_TYPE)
    else:
        static = {k: _ARG if isinstance(x, Column) else x for k, x in details.items()}
        pieces = _known(keyword, ctx, static)["message"].split(_ARG)
        parts = [F.lit(pieces[0])]
        for piece in pieces[1:]:
            parts += [args[0], F.lit(piece)]
        kv = []
        for k, x in details.items():
            kv += [F.lit(k), x if isinstance(x, Column) else F.lit(str(x))]
        known = F.struct(F.lit(field_of(ctx)).alias("field"),
                         F.lit(keyword).alias("keyword"),
                         F.concat(*parts).alias("message"),
                         F.create_map(*kv).alias("details"))
    return F.struct(known, _applied(F.to_json, value))


def _finished(rows: Column) -> Column:
    """Violation structs (``udf.VIOLATION_SCHEMA``'s fields) from rows."""
    return F.transform(rows, lambda r: F.struct(
        r["col1"]["field"].alias("field"), r["col1"]["keyword"].alias("keyword"),
        r["col1"]["message"].alias("message"), r["col2"].alias("value"),
        r["col1"]["details"].alias("details")))


def _site(pred, keyword: str, details: dict):
    """The emitter of a site: its one row where ``pred`` fails (is false
    or NULL)."""
    def rows(v: Column, ctx: tuple) -> Column:
        return F.when(_applied(pred, v), None).otherwise(
            F.array(_violation(keyword, ctx, v, details)))

    return rows


# the instance type invalid_type reports as "given", by the first
# character of the value's rendering; every number reports "number": its
# row is inexact whatever it says (the value renders digits, see
# violations_inexact), so integers need not be told apart here
_KIND_OF = {'"': "string", "{": "object", "[": "array", "n": "null",
            "t": "boolean", "f": "boolean", "-": "number",
            **{d: "number" for d in "0123456789"}}


def _node_rows(node: SubSchema, type_pred, sites: list):
    """A node's emitter from its ``(order, emit)`` sites; None when some
    site has no SQL rows."""
    if any(emit is None for _, emit in sites):
        return None
    emits = [emit for _, emit in sorted(sites, key=lambda s: s[0])]

    def rows(v: Column, ctx: tuple) -> Column:
        out = (F.flatten(F.array_compact(F.array(*[e(v, ctx) for e in emits])))
               if emits else _no_rows())
        if type_pred is None:
            return out
        # the invalid_type row for each first character of the value
        expected = node.types_string()
        by_char = {c: _known("invalid_type", ctx, {"expected": expected, "given": kind})
                   for c, kind in _KIND_OF.items()}
        txt = _applied(F.to_json, v)
        bad = F.element_at(_literal(by_char, f"map<string,{_KNOWN_TYPE}>"),
                           F.substring(txt, 1, 1))
        return F.when(_applied(type_pred, v), out).otherwise(
            F.array(F.struct(bad, txt)))

    return rows


# Where the SQL rows of an invalid row may differ from the interpreter's
# (measured: ROADMAP "How to_json(variant) differs from render_value").
# One SQL expression, not ~100 Columns (each costs py4j round trips); its
# regexes are raw literals, read the same whatever the parser's escaping.
_STRING_RX = r'"[^"\\]*+(?:\\.[^"\\]*+)*+"'
# JSON text with each string as s, each number as 0 and no whitespace:
# equal lengths mean the same tokens
_SHAPE = (r"regexp_replace(regexp_replace(regexp_replace({}, r'" + _STRING_RX
          + r"', 's'), r'[ \t\n\r]+', ''), r'-?[0-9][0-9.eE+-]*', '0')")
_INEXACT = r"""
  coalesce(exists({violations}, x -> coalesce(
      regexp_replace(x.value, r'""" + _STRING_RX + r"""', '') rlike r'[0-9]'
      or x.value rlike r'"-?Infinity"|"NaN"|\\u00[01][A-F]', false)), false)
  or coalesce(size(filter({violations},
        x -> x.keyword = 'additional_property_not_allowed'))
      > size(array_distinct(transform(filter({violations},
        x -> x.keyword = 'additional_property_not_allowed'), x -> x.field))), false)
  or coalesce(CASE WHEN try_parse_json({doc}) IS NULL
      THEN {doc} rlike r'NaN|Infinity'
      ELSE {doc} rlike r'\\u[dD][89a-fA-F]'
        or regexp_replace({doc}, r'""" + _STRING_RX + r"""', 's')
           rlike r'[0-9]{{19}}|[0-9][eE]'
        or length(""" + _SHAPE.format("{doc}") + r""")
           != length(""" + _SHAPE.format("to_json(try_parse_json({doc}))") + r""")
      END, false)"""


def _quoted(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def violations_inexact(violations: str, doc: str) -> Column:
    """True where the SQL violation rows of an invalid row may differ from
    the interpreter's, so the row must be elaborated by the interpreter:

    * a failing value renders a number (Spark prints ``1.5``, ``0``,
      ``100.0`` and exact integers where the interpreter keeps ``1.50``,
      ``-0``, ``1e2`` or prints Go float64), an overflowed double
      (``"Infinity"``) or a control character (Spark's ``\\u001F``, not
      ``\\u001f``);
    * one object has two or more extra properties (a variant sorts its
      keys, the interpreter reports them in document order);
    * the document holds a number the decimal(38,18) path cannot hold (a
      digit run of 19 or more, an exponent), where the SQL verdict of a
      numeric site may differ, or an escaped UTF-16 surrogate (Spark
      reads a lone one as ``?``);
    * Spark and Python parse the document differently: Spark reads the
      first value and ignores what follows it, Python rejects trailing
      content; Python reads ``NaN`` and ``Infinity``, Spark does not.

    ``violations`` and ``doc`` name the columns."""
    return F.expr(_INEXACT.format(violations=_quoted(violations), doc=_quoted(doc)))


class ColumnPlanCompiler:
    """Lowers a compiled schema to a pure-SQL predicate and its reach
    detector, both built by one walk (:meth:`_node`).

    Cyclic ``$ref`` chains are unrolled ``max_ref_depth`` times at compile
    time (reference walks them dynamically, schema.go:975-977 +
    schemaReferencePool.go:32-68); past the unroll the plan emits an
    optimistic TRUE *frontier* whose detector fires there. Rows whose
    documents actually nest deep enough to touch a frontier are
    re-verdicted by the exact interpreter UDF (engine.py hybrid) — at web
    scale the overwhelmingly common shallow documents stay on codegen SQL
    and only the deep tail pays for Python."""

    def __init__(self, compiled: CompiledSchema, max_ref_depth: int = 3,
                 max_nodes: int = 4000):
        self.compiled = compiled
        self.max_ref_depth = max_ref_depth
        self.max_nodes = max_nodes
        self._stack: list[int] = []  # $ref occurrence counting (unroll)
        self._hof_depth = 0  # >0: pred will run inside a HOF lambda -> SQL-only
        self._nodes = 0
        self.frontier_plan = None  # set by compile() when a frontier exists
        self.violations_plan = None  # set by compile() when every site has rows

    def compile(self):
        """Return pred(v: variant Column) -> boolean Column ('valid' bit).

        Side effects: ``self.frontier_plan`` becomes the reach-detector
        callable (variant Column -> boolean Column) when some site was
        compiled optimistically, else stays None; ``self.violations_plan``
        becomes the violation-rows callable (non-NULL variant Column ->
        array of violation structs) when every site emits its rows in
        SQL, else stays None."""
        pred, det, rows = self._node(self.compiled.root)
        if det is not None:
            if rows is not None:
                raise RuntimeError(
                    "violation rows for a schema with a frontier: an "
                    "optimistic site must not emit rows")

            def frontier(v: Column) -> Column:
                return v.isNotNull() & _nn(det(v))

            self.frontier_plan = frontier
        if rows is not None:
            def violations(v: Column) -> Column:
                return _finished(rows(v, ROOT_CONTEXT))

            self.violations_plan = violations

        def plan(v: Column) -> Column:
            # malformed / SQL-null documents are invalid on this path.
            # isNotNull & pred keeps the tree CSE-friendly (no CaseWhen).
            return v.isNotNull() & _nn(pred(v))

        return plan

    def _sub(self, node: SubSchema, dets: list, lift=None, hof: bool = False):
        """Compile a child; return its predicate and its rows emitter. Its
        detector, lifted to this node's value by ``lift``, joins ``dets``.
        ``hof``: the predicate runs inside a HOF lambda, where
        Python-UDF-backed pieces (parser formats) are not allowed."""
        self._hof_depth += hof
        try:
            pred, det, rows = self._node(node)
        finally:
            self._hof_depth -= hof
        if det is not None:
            dets.append(det if lift is None else lift(det))
        return pred, rows

    # -- node compilation ----------------------------------------------------

    def _node(self, node: SubSchema):
        """``(pred, det, rows)``: the node's predicate, its reach detector
        (None when no site below was compiled optimistically) and its
        violation-rows emitter (None when some site below has none)."""
        self._nodes += 1
        if self._nodes > self.max_nodes:
            raise UnsupportedSchema(
                f"unrolled plan exceeds {self.max_nodes} nodes "
                "(route to interpreter)")
        if node.pass_ is not None:
            val = bool(node.pass_)
            if val:
                rows = lambda v, ctx: _no_rows()
            else:
                rows = lambda v, ctx: F.array(_violation("false", ctx, v, {}))
            return (lambda v: F.lit(val)), None, rows

        if node.ref_schema is not None:
            rid = id(node.ref_schema)
            if self._stack.count(rid) >= self.max_ref_depth:
                # unroll frontier: optimistically TRUE here; its detector
                # routes rows that actually get this deep to the exact
                # interpreter (engine.py hybrid)
                return (lambda v: F.lit(True)), (lambda v: F.lit(True)), None
            self._stack.append(rid)
            try:
                pred, det, _ = self._node(node.ref_schema)
                return pred, det, None
            finally:
                self._stack.pop()

        parts = []  # list of fn(v) -> Column
        dets = []  # list of fn(v) -> Column
        sites = []  # (order, emit) pairs; emit(v, ctx) -> array or NULL

        type_pred = None
        if node.types:
            type_pred = self._type_check(node.types)
            parts.append(type_pred)
        parts.extend(self._combinators(node, dets, sites))
        parts.extend(self._const_enum(node, sites))
        parts.extend(self._number_keywords(node, dets, sites))
        parts.extend(self._string_keywords(node, sites))
        parts.extend(self._array_keywords(node, dets, sites))
        parts.extend(self._object_keywords(node, dets, sites))
        if node.format:
            parts.append(self._format_check(node, dets, sites))

        def pred(v: Column) -> Column:
            return _all([_applied(p, v) for p in parts])

        return pred, _det_any(dets), _node_rows(node, type_pred, sites)

    def _type_check(self, types: list[str]):
        def check(v: Column) -> Column:
            alts = []
            for ty in types:
                if ty == "null":
                    alts.append(_is_null(v))
                elif ty == "boolean":
                    alts.append(_is_boolean(v))
                elif ty == "string":
                    alts.append(_is_string(v))
                elif ty == "number":
                    alts.append(_is_number(v))
                elif ty == "integer":
                    alts.append(_is_integer(v))
                elif ty == "array":
                    alts.append(_arr(v).isNotNull())
                elif ty == "object":
                    alts.append(_mp(v).isNotNull())
            out = alts[0]
            for a in alts[1:]:
                out = out | a
            return out

        return check

    # -- combinators ----------------------------------------------------------

    def _combinators(self, node: SubSchema, dets: list, sites: list):
        parts = []
        if node.any_of:
            subs = [self._sub(s, dets)[0] for s in node.any_of]
            parts.append(lambda v, subs=subs: F.greatest(*[s(v) for s in subs])
                         if len(subs) > 1 else subs[0](v))
        if node.all_of:
            subs = [self._sub(s, dets)[0] for s in node.all_of]
            parts.append(lambda v, subs=subs: _all([s(v) for s in subs]))
        if node.one_of:
            subs = [self._sub(s, dets)[0] for s in node.one_of]

            def one_of(v, subs=subs):
                total = None
                for s in subs:
                    c = s(v).cast("int")
                    total = c if total is None else total + c
                return total == 1

            parts.append(one_of)
        if node.not_ is not None:
            sub, _ = self._sub(node.not_, dets)
            parts.append(lambda v, sub=sub: ~sub(v))
        if node.if_ is not None:
            p_if, _ = self._sub(node.if_, dets)
            p_then = (self._sub(node.then_, dets)[0]
                      if node.then_ is not None else None)
            p_else = (self._sub(node.else_, dets)[0]
                      if node.else_ is not None else None)

            def ite(v, p_if=p_if, p_then=p_then, p_else=p_else):
                then_c = p_then(v) if p_then is not None else _true()
                else_c = p_else(v) if p_else is not None else _true()
                return F.when(p_if(v), then_c).otherwise(else_c)

            parts.append(ite)
        if node.dependencies:
            for key, dep in node.dependencies.items():
                if isinstance(dep, list):
                    def dep_list(v, key=key, names=tuple(dep)):
                        mp = _mp(v)
                        present = F.element_at(mp, F.lit(key)).isNotNull()
                        needs = _all([F.element_at(mp, F.lit(n)).isNotNull()
                                      for n in names])
                        return mp.isNull() | ~_nn(present) | needs

                    parts.append(dep_list)
                else:
                    def present_det(d, key=key):
                        return lambda v: F.element_at(
                            _mp(v), F.lit(key)).isNotNull() & _nn(d(v))

                    sub, _ = self._sub(dep, dets, present_det)

                    def dep_schema(v, key=key, sub=sub):
                        mp = _mp(v)
                        present = F.element_at(mp, F.lit(key)).isNotNull()
                        return mp.isNull() | ~_nn(present) | sub(v)

                    parts.append(dep_schema)
        if parts:
            sites.append(_NO_SITE)
        return parts

    # -- const / enum ----------------------------------------------------------

    def _scalar_literal_pred(self, canon: str):
        """Return fn(v)->Column testing canonical equality with one value.

        canon is the canonical JSON string of the allowed value. Composite
        values (objects/arrays) compile to an exact recursive structural
        predicate — the literal is fully known at compile time, so
        key-order-insensitive canonical equality IS SQL-expressible here
        (unlike uniqueItems, where both sides are runtime values)."""
        if canon[:1] in "[{":
            from ..core.jsonvalue import Num, parse_json as _parse_lex

            def build(val):
                if val is None:
                    return lambda v: _is_null(v)
                if isinstance(val, bool):
                    want = "t" if val else "f"
                    return lambda v: _nn(_fc(v) == want)
                if isinstance(val, str):
                    return lambda v, s=val: _is_string(v) & _nn(
                        F.try_variant_get(v, "$", "string") == F.lit(s))
                if isinstance(val, Num):
                    return lambda v, fr=val.frac: _is_number(v) & self._num_eq(v, fr)
                if isinstance(val, list):
                    subs = [build(x) for x in val]

                    def arr_pred(v, subs=subs):
                        arr = _arr(v)
                        conds = [arr.isNotNull(),
                                 _nn(F.size(arr) == len(subs))]
                        for i, s in enumerate(subs):
                            conds.append(_nn(s(F.try_element_at(arr, F.lit(i + 1)))))
                        return _all(conds)

                    return arr_pred
                # dict: size match + per-key recursive equality (order-free)
                items = [(k, build(x)) for k, x in val.items()]

                def obj_pred(v, items=items, n=len(val)):
                    mp = _mp(v)
                    conds = [mp.isNotNull(), _nn(F.size(mp) == n)]
                    for k, s in items:
                        e = F.element_at(mp, F.lit(k))
                        conds.append(e.isNotNull() & _nn(s(e)))
                    return _all(conds)

                return obj_pred

            return build(_parse_lex(canon))
        if canon == "null":
            return lambda v: _is_null(v)
        if canon in ("true", "false"):
            want = "t" if canon == "true" else "f"
            return lambda v: _nn(_fc(v) == want)
        if canon.startswith('"'):
            import json as _json
            s = _json.loads(canon)
            return lambda v: _is_string(v) & _nn(
                F.try_variant_get(v, "$", "string") == F.lit(s))
        # number
        try:
            frac = Fraction(canon)
        except ValueError:
            raise UnsupportedSchema(f"unparseable const/enum value {canon!r}")
        return lambda v: _is_number(v) & self._num_eq(v, frac)

    def _num_eq(self, v: Column, frac: Fraction) -> Column:
        dec = self._dec_literal(frac)
        if dec is not None:
            return _nn(F.coalesce(_num_dec(v) == dec(),
                                  _num_dbl(v) == F.lit(float(frac))))
        f = _to_double(frac)
        if math.isinf(f) or (f == 0.0 and frac != 0):
            # literal overflows double (+-inf equals EVERY overflowed value)
            # or underflows to zero (equals a true 0): exact path only
            raise UnsupportedSchema("const/enum literal outside double range")
        # exact: a finite double equals no overflowed value, and any doc
        # value that underflowed to 0.0 only false-matches frac == 0,
        # excluded above
        return _nn(_num_dbl(v) == F.lit(f))

    def _dec_literal(self, frac: Fraction):
        """Deferred exact decimal(38,18) literal, or None if inexpressible.

        Returns a zero-arg callable so no SparkSession is needed at
        plan-compile time (plans build Columns only when applied)."""
        scaled = frac * 10**18
        if scaled.denominator != 1 or abs(frac) >= _MAX_DEC:
            return None
        sql = f"cast({_frac_str(frac)} as decimal(38,18))"
        return lambda: F.expr(sql)

    def _const_enum(self, node: SubSchema, sites: list):
        parts = []
        if node.const_ is not None:
            const = self._scalar_literal_pred(node.const_)
            parts.append(const)
            sites.append(((_COMMON, 0), _site(const, "const",
                                              {"allowed": node.const_})))
        if node.enum:
            alt_preds = [self._scalar_literal_pred(c) for c in node.enum]

            def enum_pred(v, alts=alt_preds):
                out = None
                for a in alts:
                    c = a(v)
                    out = c if out is None else out | c
                return out

            parts.append(enum_pred)
            sites.append(((_COMMON, 1), _site(
                enum_pred, "enum", {"allowed": ", ".join(node.enum)})))
        return parts

    # -- numbers -----------------------------------------------------------------

    def _number_keywords(self, node: SubSchema, dets: list, sites: list):
        parts = []
        # (order, keyword, detail) of each bound's violation
        bound_rows = {"<=": (0, "number_lte", "max"), "<": (1, "number_lt", "max"),
                      ">=": (2, "number_gte", "min"), ">": (3, "number_gt", "min")}

        def guard(v, cond):
            return ~_is_number(v) | cond

        for bound, op in ((node.minimum, ">="), (node.maximum, "<="),
                          (node.exclusive_minimum, ">"), (node.exclusive_maximum, "<")):
            if bound is None:
                continue
            dec = self._dec_literal(bound)
            fb = _to_double(bound)
            if math.isinf(fb):
                # a bound beyond double range cannot be compared against
                # overflowed values (both collapse to +-Infinity): exact
                # rational path only
                raise UnsupportedSchema("numeric bound exceeds double range")

            def cmp(v, op=op, dec=dec, fb=fb):
                d = _num_dec(v)
                dd = _num_dbl(v)
                def apply(col, lit):
                    return {"<": col < lit, "<=": col <= lit,
                            ">": col > lit, ">=": col >= lit}[op]
                if dec is not None:
                    c = F.coalesce(apply(d, dec()), apply(dd, F.lit(fb)))
                else:
                    c = apply(dd, F.lit(fb))
                return guard(v, _nn(c))

            parts.append(cmp)
            order, keyword, detail = bound_rows[op]
            sites.append(((_NUMBER, order), _site(cmp, keyword, {detail: bound})))

        if node.multiple_of is not None:
            m = node.multiple_of
            dec = self._dec_literal(m)
            if dec is None:
                raise UnsupportedSchema("multipleOf needs exact rational path")
            fm = _to_double(m)
            # divisibility of an overflowed value (stored +-Infinity, the
            # lexical gone) is undecidable in SQL: route such rows to the
            # exact interpreter via the reach detector (the STRING
            # "Infinity" matches too; such rows just take the interpreter)
            dets.append(lambda v: F.to_json(v).isin('"Infinity"', '"-Infinity"'))

            def multiple(v, dec=dec, fm=fm):
                d = _num_dec(v)
                dd = _num_dbl(v)
                c = F.coalesce(d % dec() == 0, (dd / F.lit(fm)) % 1.0 == 0.0)
                return guard(v, _nn(c))

            parts.append(multiple)
            sites.append(_NO_SITE)
        return parts

    # -- strings -----------------------------------------------------------------

    def _string_keywords(self, node: SubSchema, sites: list):
        parts = []
        if node.min_length is None and node.max_length is None and node.pattern is None:
            return parts

        def s_of(v):
            return F.try_variant_get(v, "$", "string")

        if node.min_length is not None:
            n = node.min_length
            parts.append(lambda v, n=n: ~_is_string(v) | _nn(F.length(s_of(v)) >= n))
            sites.append(((_STRING, 0), _site(parts[-1], "string_gte", {"min": n})))
        if node.max_length is not None:
            n = node.max_length
            parts.append(lambda v, n=n: ~_is_string(v) | _nn(F.length(s_of(v)) <= n))
            sites.append(((_STRING, 1), _site(parts[-1], "string_lte", {"max": n})))
        if node.pattern is not None:
            jp = _java_pattern(node.pattern_src)
            parts.append(lambda v, jp=jp: ~_is_string(v) | _nn(s_of(v).rlike(jp)))
            sites.append(((_STRING, 2), _site(parts[-1], "pattern",
                                              {"pattern": node.pattern_src})))
        return parts

    # -- arrays ------------------------------------------------------------------

    def _array_keywords(self, node: SubSchema, dets: list, sites: list):
        parts = []
        has_items = bool(node.items_children) or node.additional_items is not None
        if not (has_items or node.min_items is not None or node.max_items is not None
                or node.contains is not None or node.unique_items):
            return parts
        sites.append(_NO_SITE)

        def guard(v, cond):
            return _arr(v).isNull() | cond

        if node.min_items is not None:
            n = node.min_items
            parts.append(lambda v, n=n: guard(v, _nn(F.size(_arr(v)) >= n)))
        if node.max_items is not None:
            n = node.max_items
            parts.append(lambda v, n=n: guard(v, _nn(F.size(_arr(v)) <= n)))

        def each(d):
            return _det_exists(_arr, d)

        if node.items_single and node.items_children:
            sub, _ = self._sub(node.items_children[0], dets, each, hof=True)
            parts.append(lambda v, sub=sub: guard(
                v, _nn(F.forall(_arr(v), lambda x: sub(x)))))
        elif node.items_children:
            subs = [self._sub(s, dets, lambda d, i=i: _det_at(
                        lambda v: F.try_element_at(_arr(v), F.lit(i + 1)), d))[0]
                    for i, s in enumerate(node.items_children)]
            n = len(subs)

            def tuple_items(v, subs=subs, n=n):
                arr = _arr(v)
                sz = F.size(arr)
                conds = []
                for i, s in enumerate(subs):
                    conds.append((sz <= i) | _nn(s(F.try_element_at(arr, F.lit(i + 1)))))
                return guard(v, _all(conds))

            parts.append(tuple_items)
            if node.additional_items is False:
                parts.append(lambda v, n=n: guard(v, _nn(F.size(_arr(v)) <= n)))
            elif isinstance(node.additional_items, SubSchema):
                def tail(v, n=n):
                    arr = _arr(v)
                    return F.slice(arr, n + 1, F.greatest(F.size(arr) - n, F.lit(0)))

                sub, _ = self._sub(node.additional_items, dets,
                                   lambda d: _det_exists(tail, d), hof=True)

                def extra_items(v, sub=sub, n=n):
                    return guard(v, (F.size(_arr(v)) <= n)
                                 | _nn(F.forall(tail(v), lambda x: sub(x))))

                parts.append(extra_items)

        if node.contains is not None:
            sub, _ = self._sub(node.contains, dets, each, hof=True)
            parts.append(lambda v, sub=sub: guard(
                v, _nn(F.exists(_arr(v), lambda x: sub(x)))))

        if node.unique_items:
            # exact in SQL only when the items conjunction guarantees scalar
            # elements (see _guarantees_scalar); composite-element
            # canonical equality (key-order-insensitive) -> interpreter
            single_ok = (node.items_single and node.items_children
                         and _guarantees_scalar(node.items_children[0]))
            tuple_ok = (not node.items_single and node.items_children
                        and all(_guarantees_scalar(c) for c in node.items_children)
                        and node.additional_items is False)
            composite = not (single_ok or tuple_ok)

            def deep_elem(x):
                # two DIFFERENT overflowed literals (1e999, 2e999) share the
                # canon key "dInfinity" -> false duplicate; route arrays with
                # overflow-rendering elements to the interpreter
                c = F.to_json(x).isin('"Infinity"', '"-Infinity"')
                if composite:
                    # composite elements possible: the scalar-key compare
                    # below stays exact for scalar-only arrays; arrays
                    # holding an object/array element go to the interpreter
                    # (canonical equality on composites is
                    # key-order-insensitive — not SQL-expressible)
                    c = c | _mp(x).isNotNull() | _arr(x).isNotNull()
                return c

            dets.append(each(deep_elem))

            def unique(v):
                arr = _arr(v)
                keys = F.transform(arr, _scalar_canon_key)
                return guard(v, _nn(F.size(F.array_distinct(keys)) == F.size(arr)))

            parts.append(unique)
        return parts

    # -- objects -----------------------------------------------------------------

    def _object_keywords(self, node: SubSchema, dets: list, sites: list):
        parts = []
        needs_map = (node.required or node.properties_children
                     or node.pattern_properties
                     or node.additional_properties is not None
                     or node.property_names is not None
                     or node.min_properties is not None
                     or node.max_properties is not None)
        if not needs_map:
            return parts

        for key in [c.property for c in node.properties_children] + list(node.required):
            if not _SIMPLE_KEY.match(key):
                raise UnsupportedSchema(f"control chars in property name {key!r}")

        def guard(v, cond):
            return _mp(v).isNull() | cond

        if node.min_properties is not None:
            n = node.min_properties
            parts.append(lambda v, n=n: guard(v, _nn(F.size(_mp(v)) >= n)))
            sites.append(((_OBJECT, 0), _site(parts[-1], "array_min_properties",
                                              {"min": n})))
        if node.max_properties is not None:
            n = node.max_properties
            parts.append(lambda v, n=n: guard(v, _nn(F.size(_mp(v)) <= n)))
            sites.append(((_OBJECT, 1), _site(parts[-1], "array_max_properties",
                                              {"max": n})))

        for req in node.required:
            parts.append(lambda v, req=req: guard(
                v, F.element_at(_mp(v), F.lit(req)).isNotNull()))
            sites.append(((_OBJECT, 2), _site(parts[-1], "required",
                                              {"property": req})))

        for child in node.properties_children:
            def at(v, key=child.property):
                return F.element_at(_mp(v), F.lit(key))

            sub, rows = self._sub(child, dets, lambda d, at=at: _det_at(at, d))

            def prop(v, at=at, sub=sub):
                val = _applied(at, v)
                return guard(v, val.isNull() | _nn(sub(val)))

            parts.append(prop)

            def child_rows(v, ctx, at=at, rows=rows, key=child.property):
                val = _applied(at, v)
                return F.when(val.isNotNull(), rows(val, ctx + (key,)))

            sites.append(((_CHILD,), child_rows if rows is not None else None))

        jps = []
        for pat, (rx, child) in node.pattern_properties.items():
            jp = _java_pattern(pat)
            jps.append(jp)
            sub, _ = self._sub(child, dets, lambda d, jp=jp: _det_keys(
                lambda k: k.rlike(jp), d), hof=True)

            def pat_props(v, jp=jp, sub=sub):
                mp = _mp(v)
                return guard(v, _nn(F.forall(
                    F.map_keys(mp),
                    lambda k: ~k.rlike(jp) | _nn(sub(F.element_at(mp, k))))))

            parts.append(pat_props)
            sites.append(_NO_SITE)

        if node.additional_properties is not None:
            declared = tuple(c.property for c in node.properties_children)

            def covered(k, jps=tuple(jps)):
                c = F.lit(False)
                if declared:
                    c = c | k.isin(*declared)
                for jp in jps:
                    c = c | k.rlike(jp)
                return c

            if node.additional_properties is False:
                ap_sub = None
            elif node.additional_properties is True:
                ap_sub = "any"
            else:
                ap_sub, _ = self._sub(node.additional_properties, dets,
                                      lambda d: _det_keys(lambda k: ~covered(k), d),
                                      hof=True)
                sites.append(_NO_SITE)

            if ap_sub != "any":
                def addl(v, ap_sub=ap_sub):
                    mp = _mp(v)
                    if ap_sub is None:
                        body = lambda k: covered(k)
                    else:
                        body = lambda k: covered(k) | _nn(ap_sub(F.element_at(mp, k)))
                    return guard(v, _nn(F.forall(F.map_keys(mp), body)))

                parts.append(addl)

            if ap_sub is None:
                def extra_rows(v, ctx):
                    # one row per extra key, in the variant's (sorted) key
                    # order: see violations_inexact
                    mp = _mp(v)
                    return F.transform(
                        F.filter(F.map_keys(mp), lambda k: ~covered(k)),
                        lambda k: _violation("additional_property_not_allowed",
                                             ctx, F.element_at(mp, k),
                                             {"property": k}))

                sites.append(((_OBJECT, 3), extra_rows))

        if node.property_names is not None:
            # a key is validated as a string instance: the key cast to
            # variant, inside the forall over the keys
            def keys(v):
                return F.map_keys(_mp(v))

            sites.append(_NO_SITE)
            try:
                sub, _ = self._sub(node.property_names, dets, lambda d: _det_exists(
                    keys, lambda k: d(k.cast("variant"))), hof=True)
            except UnsupportedSchema as e:
                if "exceeds" in str(e):
                    raise  # node cap: the caller retries at a shallower unroll
                # e.g. a Java-divergent regex: hybrid — any object carrying
                # at least one key routes to the exact interpreter
                dets.append(lambda v: _nn(F.size(_mp(v)) > 0))
            else:
                parts.append(lambda v, sub=sub: guard(v, _nn(F.forall(
                    keys(v), lambda k: sub(k.cast("variant"))))))

        return parts

    def _format_check(self, node: SubSchema, dets: list, sites: list):
        name = node.format
        pred, is_sql, is_custom = format_column_pred(name, self.compiled.formats)
        if not is_sql:
            sites.append(_NO_SITE)  # a Python checker, not a SQL model
        if self._hof_depth > 0 and not is_sql:
            # a Python UDF can't run inside a HOF lambda: go hybrid — rows
            # whose value actually occupies this position (a string for
            # builtin parser formats, any value for custom checkers) are
            # re-verdicted by the exact interpreter via the reach detector
            dets.append((lambda v: F.lit(True)) if is_custom else _is_string)
            return lambda v: F.lit(True)

        if is_custom:
            # user-registered checker: sees the decoded value of ANY JSON
            # type (reference format_checkers.go:147-158), so feed it the
            # full JSON rendering, not just the string cast
            def check_custom(v: Column) -> Column:
                return _nn(pred(F.to_json(v)))

            return check_custom

        def check(v: Column) -> Column:
            s = F.try_variant_get(v, "$", "string")
            return ~_is_string(v) | _nn(pred(s))

        if is_sql:
            sites.append(((_COMMON, 2), _site(check, "format", {"format": name})))
        return check


def _frac_str(frac: Fraction) -> str:
    """Exact decimal string for a Fraction with power-of-10 denominator."""
    scaled = frac * 10**18
    if scaled.denominator != 1:
        raise ValueError(f"{frac} has no exact 18-digit decimal form")
    neg = scaled.numerator < 0
    digits = str(abs(scaled.numerator)).rjust(19, "0")
    s = f"{digits[:-18]}.{digits[-18:]}"
    return ("-" if neg else "") + s
