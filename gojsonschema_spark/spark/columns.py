"""Compile a JSON Schema into a pure-SQL Spark Column predicate DAG.

The hot path of the engine (SURVEY.md §1.4/§4): each schema node lowers to
a boolean ``Column`` over a VARIANT value. Everything stays JVM-side inside
whole-stage codegen — type dispatch via cheap variant probes (container casts + to_json first-char), presence via
``element_at`` on a ``map<string,variant>`` cast (missing vs null is
preserved: a JSON null is a non-SQL-null VOID variant), numeric comparisons
on lexical-preserving DECIMAL casts with a DOUBLE fallback, regex via
``rlike`` with an RE2->Java anchor fix ($ -> \\z).

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

import math
from fractions import Fraction

from pyspark.sql import Column, functions as F

from ..core.compiler import CompiledSchema, SubSchema
from ..core.goregex import JavaRegexDivergence, translate_re2_java
from ..core.jsonvalue import go_float_str

__all__ = ["ColumnPlanCompiler", "UnsupportedSchema"]

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
    return c.eqNullSafe(F.lit(True))


# --- variant type classification ---------------------------------------------
#
# schema_of_variant rebuilds a DDL type string per call and measured ~25x the
# cost of the variant parse itself; type dispatch instead uses cheap probes:
# container-ness via try-cast null-ness, scalar kind via the first character
# of to_json (``"`` string, ``t``/``f`` boolean, ``n`` null, digit/``-``
# number). All probes are plain deterministic expressions -> runtime CSE
# shares them across keywords.

def _mp(v: Column) -> Column:
    return F.try_variant_get(v, "$", "map<string,variant>")


def _arr(v: Column) -> Column:
    return F.try_variant_get(v, "$", "array<variant>")


def _fc(v: Column) -> Column:
    """First char of the JSON rendering (scalar kind discriminator)."""
    return F.substring(F.to_json(v), 1, 1)


def _is_null(v: Column) -> Column:
    return _nn(F.is_variant_null(v))


def _is_string(v: Column) -> Column:
    # '"Infinity"' is also the rendering of an overflowed DOUBLE — see
    # _INF_RENDERINGS below; only such rows pay the schema_of_variant call
    txt = F.to_json(v)
    return _nn(F.when(txt.isin(*_INF_RENDERINGS),
                      F.schema_of_variant(v) == F.lit("STRING"))
                .otherwise(F.substring(txt, 1, 1) == '"'))


def _is_boolean(v: Column) -> Column:
    return _nn(_fc(v).isin("t", "f"))


# A numeric literal beyond double range (|x| >= ~1.8e308) parses into the
# variant as double +-Infinity, which to_json renders as '"Infinity"' —
# IDENTICAL to the rendering of the STRING "Infinity". Only for rows that
# render exactly these three strings (~never) does the probe fall back to
# schema_of_variant (which costs ~25x the parse, hence never on the
# common path) to tell an overflowed double from a string.
_INF_RENDERINGS = ('"Infinity"', '"-Infinity"', '"NaN"')


def _is_number(v: Column) -> Column:
    txt = F.to_json(v)
    return _nn(F.when(txt.isin(*_INF_RENDERINGS),
                      F.schema_of_variant(v) == F.lit("DOUBLE"))
                .otherwise(F.substring(txt, 1, 1).isin(
                    "-", "0", "1", "2", "3", "4", "5", "6", "7", "8", "9")))


def _is_overflow_number(v: Column) -> Column:
    """Value parsed from a literal beyond double range (variant stores
    +-Infinity; the original lexical is unrecoverable)."""
    return _nn(F.to_json(v).isin('"Infinity"', '"-Infinity"')
               & (F.schema_of_variant(v) == F.lit("DOUBLE")))


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
    txt = F.to_json(v)
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


class ColumnPlanCompiler:
    """Lowers a compiled schema to a pure-SQL predicate.

    Cyclic ``$ref`` chains are unrolled ``max_ref_depth`` times at compile
    time (reference walks them dynamically, schema.go:975-977 +
    schemaReferencePool.go:32-68); past the unroll the plan emits an
    optimistic TRUE *frontier* plus a parallel reach-DETECTOR predicate.
    Rows whose documents actually nest deep enough to touch a frontier are
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
        self._frontier_hit = False
        self._ui_frontier_nodes: set[int] = set()  # composite-uniqueItems sites
        self._ui_inf_nodes: set[int] = set()  # uniqueItems overflow-element sites
        self._num_overflow_nodes: set[int] = set()  # multipleOf-on-overflow sites
        self._fmt_frontier_nodes: dict[int, str] = {}  # UDF-format-in-HOF sites
        self._pn_frontier_nodes: set[int] = set()  # UDF-format propertyNames
        self.frontier_plan = None  # set by compile() when a frontier exists

    def compile(self):
        """Return pred(v: variant Column) -> boolean Column ('valid' bit).

        Side effect: ``self.frontier_plan`` becomes a reach-detector
        callable (variant Column -> boolean Column) when the schema needed
        depth-bounded $ref unrolling, else stays None."""
        root = self.compiled.root
        pred = self._node(root)
        if self._frontier_hit:
            det = self._det_node(root)
            if det is None:
                raise RuntimeError("frontier emitted but detector is empty")

            def frontier(v: Column) -> Column:
                return v.isNotNull() & _nn(det(v))

            self.frontier_plan = frontier

        def plan(v: Column) -> Column:
            # malformed / SQL-null documents are invalid on this path.
            # isNotNull & pred keeps the tree CSE-friendly (no CaseWhen).
            return v.isNotNull() & _nn(pred(v))

        return plan

    def _hof_node(self, node: SubSchema):
        """Compile a child whose predicate runs inside a HOF lambda —
        Python-UDF-backed pieces (parser formats) are not allowed there."""
        self._hof_depth += 1
        try:
            return self._node(node)
        finally:
            self._hof_depth -= 1

    # -- node compilation ----------------------------------------------------

    def _node(self, node: SubSchema):
        self._nodes += 1
        if self._nodes > self.max_nodes:
            raise UnsupportedSchema(
                f"unrolled plan exceeds {self.max_nodes} nodes "
                "(route to interpreter)")
        if node.pass_ is not None:
            val = bool(node.pass_)
            return lambda v: F.lit(val)

        if node.ref_schema is not None:
            rid = id(node.ref_schema)
            if self._stack.count(rid) >= self.max_ref_depth:
                # unroll frontier: optimistically TRUE here; the reach
                # detector routes rows that actually get this deep to the
                # exact interpreter (engine.py hybrid)
                self._frontier_hit = True
                return lambda v: F.lit(True)
            self._stack.append(rid)
            try:
                return self._node(node.ref_schema)
            finally:
                self._stack.pop()

        parts = []  # list of fn(v, t) -> Column

        if node.types:
            parts.append(self._type_check(node.types))
        parts.extend(self._combinators(node))
        parts.extend(self._const_enum(node))
        parts.extend(self._number_keywords(node))
        parts.extend(self._string_keywords(node))
        parts.extend(self._array_keywords(node))
        parts.extend(self._object_keywords(node))
        if node.format:
            parts.append(self._format_check(node))

        def pred(v: Column) -> Column:
            return _all([p(v) for p in parts])

        return pred

    # -- frontier reach detector ----------------------------------------------
    #
    # Mirrors _node's recursion structure but answers a different question:
    # "could validateRecursive, applied to this value, reach an unroll
    # frontier?" Conservative over-approximation is safe (extra rows just
    # take the exact interpreter); missing a reach would be a wrong verdict,
    # so every recursion site _node compiles is mirrored here.

    def _det_node(self, node: SubSchema):
        if node.pass_ is not None:
            return None
        if node.ref_schema is not None:
            rid = id(node.ref_schema)
            if self._stack.count(rid) >= self.max_ref_depth:
                return lambda v: F.lit(True)  # the frontier site itself
            self._stack.append(rid)
            try:
                return self._det_node(node.ref_schema)
            finally:
                self._stack.pop()

        dets = []

        def add(d):
            if d is not None:
                dets.append(d)

        if id(node) in self._ui_inf_nodes:
            def ui_inf_det(v):
                arr = _arr(v)
                return arr.isNotNull() & _nn(F.exists(
                    arr, lambda x: F.to_json(x).isin(
                        '"Infinity"', '"-Infinity"')))

            add(ui_inf_det)

        if id(node) in self._num_overflow_nodes:
            # conservative: the STRING "Infinity" also matches (such rows
            # just take the exact interpreter)
            add(lambda v: _nn(F.to_json(v).isin('"Infinity"', '"-Infinity"')))

        if id(node) in self._ui_frontier_nodes:
            def ui_det(v):
                arr = _arr(v)
                return arr.isNotNull() & _nn(F.exists(
                    arr, lambda x: _mp(x).isNotNull() | _arr(x).isNotNull()))

            add(ui_det)

        fmt_kind = self._fmt_frontier_nodes.get(id(node))
        if fmt_kind == "string":
            add(lambda v: _is_string(v))
        elif fmt_kind == "any":
            add(lambda v: F.lit(True))

        if id(node) in self._pn_frontier_nodes:
            add(lambda v: _mp(v).isNotNull() & _nn(F.size(_mp(v)) > 0))

        for sub in list(node.any_of) + list(node.all_of) + list(node.one_of):
            add(self._det_node(sub))
        for sub in (node.not_, node.if_, node.then_, node.else_):
            if sub is not None:
                add(self._det_node(sub))
        for key, dep in node.dependencies.items():
            if not isinstance(dep, list):
                d = self._det_node(dep)
                if d is not None:
                    def dep_det(v, key=key, d=d):
                        mp = _mp(v)
                        present = F.element_at(mp, F.lit(key)).isNotNull()
                        return mp.isNotNull() & _nn(present) & _nn(d(v))

                    add(dep_det)

        for child in node.properties_children:
            d = self._det_node(child)
            if d is not None:
                def prop_det(v, key=child.property, d=d):
                    val = F.element_at(_mp(v), F.lit(key))
                    return val.isNotNull() & _nn(d(val))

                add(prop_det)

        for pat, (rx, child) in node.pattern_properties.items():
            d = self._det_node(child)
            if d is not None:
                jp = _java_pattern(pat)

                def pat_det(v, jp=jp, d=d):
                    mp = _mp(v)
                    return mp.isNotNull() & _nn(F.exists(
                        F.map_keys(mp),
                        lambda k: k.rlike(jp) & _nn(d(F.element_at(mp, k)))))

                add(pat_det)

        if isinstance(node.additional_properties, SubSchema):
            d = self._det_node(node.additional_properties)
            if d is not None:
                declared = tuple(c.property for c in node.properties_children)
                jps = tuple(_java_pattern(p) for p in node.pattern_properties)

                def ap_det(v, declared=declared, jps=jps, d=d):
                    mp = _mp(v)

                    def uncovered(k):
                        c = F.lit(True)
                        if declared:
                            c = c & ~k.isin(*declared)
                        for jp in jps:
                            c = c & ~k.rlike(jp)
                        return c

                    return mp.isNotNull() & _nn(F.exists(
                        F.map_keys(mp),
                        lambda k: uncovered(k) & _nn(d(F.element_at(mp, k)))))

                add(ap_det)

        def arr_exists_det(d):
            def det(v, d=d):
                arr = _arr(v)
                return arr.isNotNull() & _nn(
                    F.exists(arr, lambda x: _nn(d(x))))

            return det

        if node.items_single and node.items_children:
            d = self._det_node(node.items_children[0])
            if d is not None:
                add(arr_exists_det(d))
        elif node.items_children:
            for i, sub in enumerate(node.items_children):
                d = self._det_node(sub)
                if d is not None:
                    def tup_det(v, i=i, d=d):
                        arr = _arr(v)
                        return (arr.isNotNull() & _nn(F.size(arr) > i)
                                & _nn(d(F.try_element_at(arr, F.lit(i + 1)))))

                    add(tup_det)
            if isinstance(node.additional_items, SubSchema):
                d = self._det_node(node.additional_items)
                if d is not None:
                    n = len(node.items_children)

                    def ai_det(v, n=n, d=d):
                        arr = _arr(v)
                        tail = F.slice(arr, n + 1,
                                       F.greatest(F.size(arr) - n, F.lit(0)))
                        return arr.isNotNull() & _nn(
                            F.exists(tail, lambda x: _nn(d(x))))

                    add(ai_det)

        if node.contains is not None:
            d = self._det_node(node.contains)
            if d is not None:
                add(arr_exists_det(d))

        # propertyNames instances are strings: no structural recursion

        if not dets:
            return None

        def det(v: Column) -> Column:
            out = None
            for d in dets:
                c = _nn(d(v))
                out = c if out is None else (out | c)
            return out

        return det

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

    def _combinators(self, node: SubSchema):
        parts = []
        if node.any_of:
            subs = [self._node(s) for s in node.any_of]
            parts.append(lambda v, subs=subs: F.greatest(*[s(v) for s in subs])
                         if len(subs) > 1 else subs[0](v))
        if node.all_of:
            subs = [self._node(s) for s in node.all_of]
            parts.append(lambda v, subs=subs: _all([s(v) for s in subs]))
        if node.one_of:
            subs = [self._node(s) for s in node.one_of]

            def one_of(v, subs=subs):
                total = None
                for s in subs:
                    c = s(v).cast("int")
                    total = c if total is None else total + c
                return total == 1

            parts.append(one_of)
        if node.not_ is not None:
            sub = self._node(node.not_)
            parts.append(lambda v, sub=sub: ~sub(v))
        if node.if_ is not None:
            p_if = self._node(node.if_)
            p_then = self._node(node.then_) if node.then_ is not None else None
            p_else = self._node(node.else_) if node.else_ is not None else None

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
                    sub = self._node(dep)

                    def dep_schema(v, key=key, sub=sub):
                        mp = _mp(v)
                        present = F.element_at(mp, F.lit(key)).isNotNull()
                        return mp.isNull() | ~_nn(present) | sub(v)

                    parts.append(dep_schema)
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

    def _const_enum(self, node: SubSchema):
        parts = []
        if node.const_ is not None:
            parts.append(self._scalar_literal_pred(node.const_))
        if node.enum:
            alt_preds = [self._scalar_literal_pred(c) for c in node.enum]

            def enum_pred(v, alts=alt_preds):
                out = None
                for a in alts:
                    c = a(v)
                    out = c if out is None else out | c
                return out

            parts.append(enum_pred)
        return parts

    # -- numbers -----------------------------------------------------------------

    def _number_keywords(self, node: SubSchema):
        parts = []

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

        if node.multiple_of is not None:
            m = node.multiple_of
            dec = self._dec_literal(m)
            if dec is None:
                raise UnsupportedSchema("multipleOf needs exact rational path")
            fm = _to_double(m)
            # divisibility of an overflowed value (stored +-Infinity, the
            # lexical gone) is undecidable in SQL: route such rows to the
            # exact interpreter via the reach detector
            self._frontier_hit = True
            self._num_overflow_nodes.add(id(node))

            def multiple(v, dec=dec, fm=fm):
                d = _num_dec(v)
                dd = _num_dbl(v)
                c = F.coalesce(d % dec() == 0, (dd / F.lit(fm)) % 1.0 == 0.0)
                return guard(v, _nn(c))

            parts.append(multiple)
        return parts

    # -- strings -----------------------------------------------------------------

    def _string_keywords(self, node: SubSchema):
        parts = []
        if node.min_length is None and node.max_length is None and node.pattern is None:
            return parts

        def s_of(v):
            return F.try_variant_get(v, "$", "string")

        if node.min_length is not None:
            n = node.min_length
            parts.append(lambda v, n=n: ~_is_string(v) | _nn(F.length(s_of(v)) >= n))
        if node.max_length is not None:
            n = node.max_length
            parts.append(lambda v, n=n: ~_is_string(v) | _nn(F.length(s_of(v)) <= n))
        if node.pattern is not None:
            jp = _java_pattern(node.pattern_src)
            parts.append(lambda v, jp=jp: ~_is_string(v) | _nn(s_of(v).rlike(jp)))
        return parts

    # -- arrays ------------------------------------------------------------------

    def _array_keywords(self, node: SubSchema):
        parts = []
        has_items = bool(node.items_children) or node.additional_items is not None
        if not (has_items or node.min_items is not None or node.max_items is not None
                or node.contains is not None or node.unique_items):
            return parts

        def guard(v, cond):
            return _arr(v).isNull() | cond

        if node.min_items is not None:
            n = node.min_items
            parts.append(lambda v, n=n: guard(v, _nn(F.size(_arr(v)) >= n)))
        if node.max_items is not None:
            n = node.max_items
            parts.append(lambda v, n=n: guard(v, _nn(F.size(_arr(v)) <= n)))

        if node.items_single and node.items_children:
            sub = self._hof_node(node.items_children[0])
            parts.append(lambda v, sub=sub: guard(
                v, _nn(F.forall(_arr(v), lambda x: sub(x)))))
        elif node.items_children:
            subs = [self._node(s) for s in node.items_children]
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
                sub = self._hof_node(node.additional_items)

                def extra_items(v, sub=sub, n=n):
                    arr = _arr(v)
                    sz = F.size(arr)
                    tail = F.slice(arr, n + 1, F.greatest(sz - n, F.lit(0)))
                    return guard(v, (sz <= n) | _nn(F.forall(tail, lambda x: sub(x))))

                parts.append(extra_items)

        if node.contains is not None:
            sub = self._hof_node(node.contains)
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
            if not (single_ok or tuple_ok):
                # composite elements possible: the scalar-key compare below
                # stays exact for scalar-only arrays; rows whose array holds
                # an object/array element route to the exact interpreter via
                # the reach detector (canonical equality on composites is
                # key-order-insensitive — not SQL-expressible)
                self._frontier_hit = True
                self._ui_frontier_nodes.add(id(node))
            # two DIFFERENT overflowed literals (1e999, 2e999) share the
            # canon key "dInfinity" -> false duplicate; route arrays with
            # overflow-rendering elements to the interpreter
            self._frontier_hit = True
            self._ui_inf_nodes.add(id(node))

            def unique(v):
                arr = _arr(v)
                keys = F.transform(arr, _scalar_canon_key)
                return guard(v, _nn(F.size(F.array_distinct(keys)) == F.size(arr)))

            parts.append(unique)
        return parts

    # -- objects -----------------------------------------------------------------

    def _object_keywords(self, node: SubSchema):
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
        if node.max_properties is not None:
            n = node.max_properties
            parts.append(lambda v, n=n: guard(v, _nn(F.size(_mp(v)) <= n)))

        for req in node.required:
            parts.append(lambda v, req=req: guard(
                v, F.element_at(_mp(v), F.lit(req)).isNotNull()))

        for child in node.properties_children:
            sub = self._node(child)

            def prop(v, key=child.property, sub=sub):
                val = F.element_at(_mp(v), F.lit(key))
                return guard(v, val.isNull() | _nn(sub(val)))

            parts.append(prop)

        pattern_pairs = []
        for pat, (rx, child) in node.pattern_properties.items():
            jp = _java_pattern(pat)
            sub = self._hof_node(child)
            pattern_pairs.append((jp, sub))

            def pat_props(v, jp=jp, sub=sub):
                mp = _mp(v)
                return guard(v, _nn(F.forall(
                    F.map_keys(mp),
                    lambda k: ~k.rlike(jp) | _nn(sub(F.element_at(mp, k))))))

            parts.append(pat_props)

        if node.additional_properties is not None:
            declared = [c.property for c in node.properties_children]
            jps = [jp for jp, _ in pattern_pairs]
            if node.additional_properties is False:
                ap_sub = None
            elif node.additional_properties is True:
                ap_sub = "any"
            else:
                ap_sub = self._hof_node(node.additional_properties)

            if ap_sub != "any":
                def addl(v, declared=tuple(declared), jps=tuple(jps), ap_sub=ap_sub):
                    mp = _mp(v)

                    def covered(k):
                        c = F.lit(False)
                        if declared:
                            c = c | k.isin(*declared)
                        for jp in jps:
                            c = c | k.rlike(jp)
                        return c

                    if ap_sub is None:
                        body = lambda k: covered(k)
                    else:
                        body = lambda k: covered(k) | _nn(ap_sub(F.element_at(mp, k)))
                    return guard(v, _nn(F.forall(F.map_keys(mp), body)))

                parts.append(addl)

        if node.property_names is not None:
            try:
                sub = self._string_instance_pred(node.property_names)
            except UnsupportedSchema:
                # UDF/custom format inside propertyNames: hybrid — any
                # object carrying at least one key routes to the exact
                # interpreter via the reach detector
                self._frontier_hit = True
                self._pn_frontier_nodes.add(id(node))
                sub = None
            if sub is not None:
                parts.append(lambda v, sub=sub: guard(
                    v, _nn(F.forall(F.map_keys(_mp(v)), lambda k: sub(k)))))

        return parts

    def _string_instance_pred(self, node: SubSchema):
        """Predicate over a plain STRING column (for propertyNames)."""
        if node.pass_ is not None:
            val = bool(node.pass_)
            return lambda s: F.lit(val)
        if node.ref_schema is not None:
            rid = id(node.ref_schema)
            if rid in self._stack:
                raise UnsupportedSchema(
                    "cyclic $ref in propertyNames (route to interpreter)")
            self._stack.append(rid)
            try:
                return self._string_instance_pred(node.ref_schema)
            finally:
                self._stack.pop()
        conds = []
        # the instance is always a STRING (a property name): object/array/
        # number keywords are vacuous on it, so only string-applicable
        # keywords and combinators constrain the verdict
        if node.types and "string" not in node.types:
            return lambda s: F.lit(False)
        if node.const_ is not None:
            if node.const_.startswith('"'):
                import json as _json
                val = _json.loads(node.const_)
                conds.append(lambda s, val=val: s == F.lit(val))
            else:
                return lambda s: F.lit(False)  # non-string const never matches
        if node.enum:
            import json as _json
            strs = [_json.loads(c) for c in node.enum if c.startswith('"')]
            if not strs:
                return lambda s: F.lit(False)
            conds.append(lambda s, strs=tuple(strs): s.isin(*strs))
        if node.any_of:
            subs = [self._string_instance_pred(x) for x in node.any_of]
            conds.append(lambda s, subs=subs:
                         F.greatest(*[p(s) for p in subs])
                         if len(subs) > 1 else subs[0](s))
        if node.all_of:
            subs = [self._string_instance_pred(x) for x in node.all_of]
            conds.append(lambda s, subs=subs: _all([p(s) for p in subs]))
        if node.one_of:
            subs = [self._string_instance_pred(x) for x in node.one_of]

            def one(s, subs=subs):
                total = None
                for p in subs:
                    c = _nn(p(s)).cast("int")
                    total = c if total is None else total + c
                return total == 1

            conds.append(one)
        if node.not_ is not None:
            sub = self._string_instance_pred(node.not_)
            conds.append(lambda s, sub=sub: ~_nn(sub(s)))
        if node.if_ is not None:
            p_if = self._string_instance_pred(node.if_)
            p_then = (self._string_instance_pred(node.then_)
                      if node.then_ is not None else None)
            p_else = (self._string_instance_pred(node.else_)
                      if node.else_ is not None else None)

            def ite(s, p_if=p_if, p_then=p_then, p_else=p_else):
                t = p_then(s) if p_then is not None else _true()
                e = p_else(s) if p_else is not None else _true()
                return F.when(_nn(p_if(s)), t).otherwise(e)

            conds.append(ite)
        if node.format:
            from .format_columns import format_column_pred

            pred, is_sql, is_custom = format_column_pred(
                node.format, self.compiled.formats)
            if is_custom or not is_sql:
                raise UnsupportedSchema(
                    "UDF/custom format in propertyNames (route to interpreter)")
            conds.append(lambda s, pred=pred: pred(s))
        if node.min_length is not None:
            n = node.min_length
            conds.append(lambda s, n=n: F.length(s) >= n)
        if node.max_length is not None:
            n = node.max_length
            conds.append(lambda s, n=n: F.length(s) <= n)
        if node.pattern is not None:
            jp = _java_pattern(node.pattern_src)
            conds.append(lambda s, jp=jp: s.rlike(jp))
        return lambda s: _all([c(s) for c in conds])

    def _format_check(self, node: SubSchema):
        from .format_columns import format_column_pred

        name = node.format
        pred, is_sql, is_custom = format_column_pred(name, self.compiled.formats)
        if self._hof_depth > 0 and not is_sql:
            # a Python UDF can't run inside a HOF lambda: go hybrid — rows
            # whose value actually occupies this position (a string for
            # builtin parser formats, any value for custom checkers) are
            # re-verdicted by the exact interpreter via the reach detector
            self._frontier_hit = True
            self._fmt_frontier_nodes[id(node)] = "any" if is_custom else "string"
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
