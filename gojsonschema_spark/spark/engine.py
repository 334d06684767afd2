"""SparkValidator — the engine facade.

Compile once on the driver, validate set-at-a-time over DataFrames:

* pass 1 (hot path): pure-SQL VARIANT predicate DAG -> ``valid`` bit,
  whole-stage codegen, no Python in the loop;
* pass 2 (lazy): violation rows elaborated by the Arrow-batched interpreter
  UDF only for failing documents (a checkpointed bucket builds them in
  SQL where that is exact: :meth:`SparkValidator._validate_json_sql`);
* fallback: schemas outside the Column subset run entirely on the
  interpreter UDF (same verdicts, exact semantics).

One dispatch (:func:`_dispatch`) serves every entry point: one branch for
:class:`SparkValidator` and ``streaming.validate_stream``, one per kind for
:class:`MultiSchemaValidator`. Each branch takes the column plan, the
hybrid plan (the interpreter re-verdicts frontier rows) or the fallback.

A validator builds its predicate Columns and UDFs once, on first use, and
every later call reuses them: the Column DAG crosses py4j once per
validator, not once per validated DataFrame.

Typical use::

    v = SparkValidator({"type": "object", "required": ["url"], ...}, draft="draft7")
    out = v.validate_json(df, "doc")          # adds valid + violations
    bad = out.filter(~out.valid).select("doc", F.explode("violations"))
"""

from __future__ import annotations

from functools import cached_property
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, functions as F

from ..core.compiler import Draft, SchemaCompiler
from ..core.errors import _FIELD_RX, MESSAGES
from .columns import (ColumnPlanCompiler, UnsupportedSchema, shared_predicates,
                      violations_inexact)
from .udf import (_PARSE_FAILED, VIOLATION_SCHEMA, make_verdict_udf,
                  make_violations_udf)

__all__ = ["SparkValidator", "MultiSchemaValidator"]


class _Expressions(NamedTuple):
    """A validator's Spark expressions, shared by all of its calls.

    ``valid`` (the column-plan bit, None on the interpreter path) and
    ``deep`` (the frontier reach detector, hybrid plans only) read the
    ``__gjs_v`` variant. ``verdict`` fills only the `valid` field;
    ``verdict_full`` also fills `violations` and exists only on the
    interpreter path; ``violations`` is the pass-2 elaboration UDF.
    ``rows`` builds the violations of an invalid row in SQL from
    ``__gjs_v`` (``udf._PARSE_FAILED`` for a NULL one); it exists when
    every site of the schema emits its rows and no template uses a ``|``
    helper, and ``messages`` is the ``MESSAGES`` its messages were
    rendered from."""
    valid: Column | None
    deep: Column | None
    verdict: Callable[..., Column]
    verdict_full: Callable[..., Column] | None
    violations: Callable[..., Column]
    rows: Column | None
    messages: dict


def _barrier(df: DataFrame, name: str, expr: Column) -> DataFrame:
    """Materialize ``expr`` as column ``name`` behind a Generate node so
    CollapseProject cannot re-inline it into every consumer."""
    return df.select("*", F.explode(F.array(expr)).alias(name))


def _case(pairs: list, otherwise: Column | None = None) -> Column:
    """CASE WHEN cond THEN value ... ELSE otherwise END over ``(cond,
    value)`` pairs; the single-schema branch (cond None) is its value."""
    expr = None
    for cond, value in pairs:
        if cond is None:
            return value
        expr = F.when(cond, value) if expr is None else expr.when(cond, value)
    if expr is None:
        return F.lit(None).cast("boolean") if otherwise is None else otherwise
    return expr if otherwise is None else expr.otherwise(otherwise)


def _rows_literal(rows: list[dict]) -> Column:
    """Fixed violation rows (``udf._PARSE_FAILED``) as a Column."""
    return F.array(*[F.struct(
        F.lit(r["field"]).alias("field"), F.lit(r["keyword"]).alias("keyword"),
        F.lit(r["message"]).alias("message"),
        F.lit(r["value"]).cast("string").alias("value"),
        F.create_map().cast("map<string,string>").alias("details"))
        for r in rows])


def _dispatch(df: DataFrame, doc_col: str, branches: list,
              valid_col: str, violations_col: str | None = None,
              otherwise: Column | None = None, sql: bool = False) -> DataFrame:
    """Append ``valid_col`` (+ ``violations_col``) for the branch whose
    condition holds on each row; ``otherwise`` decides the rest. ``sql``:
    the lone branch builds `violations` in SQL (its ``rows``), not in the
    pass-2 UDF."""
    doc = F.col(doc_col)
    lone_cond, lone = branches[0] if len(branches) == 1 else (True, None)
    if lone_cond is None and lone.valid is None:
        # interpreter-only schema: one UDF pass fills both fields, so an
        # invalid document is parsed once, not again by a pass 2
        verdict = lone.verdict_full if violations_col else lone.verdict
        df = df.withColumn("__verdict__", verdict(doc))
        df = df.withColumn(valid_col, F.col("__verdict__.valid"))
        if violations_col:
            df = df.withColumn(violations_col, F.col("__verdict__.violations"))
        return df.drop("__verdict__")
    # explode(array(x)) is a Generate node: a deliberate projection
    # barrier so (a) the variant parse materializes once instead of
    # being re-inlined per keyword by CollapseProject, and (b) the
    # pass-2 UDF receives the `valid` ATTRIBUTE, not a re-evaluated
    # (interpreted, non-codegen) copy of the whole predicate.
    df = _barrier(df, "__gjs_v", F.try_parse_json(doc))
    hybrid = [(c, x.deep) for c, x in branches if x.deep is not None]
    deep = F.col("__gjs_deep")
    if hybrid:
        # hybrid: rows nesting past the compile-time $ref unroll are
        # re-verdicted by the exact interpreter; the UDF input is
        # masked to NULL for shallow rows so Arrow ships (and Python
        # parses) only the deep tail
        df = _barrier(df, "__gjs_deep", _case(hybrid))

    def valid(cond, x):
        if x.valid is None:
            return x.verdict(_case([(cond, doc)]))["valid"]
        if x.deep is None:
            return x.valid
        deep_doc = F.when(deep, _case([(cond, doc)]))
        return F.when(deep, x.verdict(deep_doc)["valid"]).otherwise(x.valid)

    df = df.withColumn(valid_col,
                       _case([(c, valid(c, x)) for c, x in branches],
                             otherwise))
    if hybrid:
        df = df.drop("__gjs_deep")
    if violations_col:
        df = _barrier(df, "__gjs_valid", F.col(valid_col))
        # mask the payload for valid rows: Arrow then ships nulls
        # instead of document bodies for the (majority) happy path
        bit = F.col("__gjs_valid")
        if sql:
            # valid rows get no rows; an invalid row's rows are SQL
            # expressions evaluated only behind the bit, no Python node
            if lone_cond is not None or lone.rows is None or lone.deep is not None:
                raise ValueError("SQL violations need one branch whose "
                                 "column plan emits rows and has no frontier")
            violations = (F.when(bit, F.array().cast(VIOLATION_SCHEMA))
                          .otherwise(lone.rows))
        else:
            violations = _case(
                [(c, x.violations(F.when(~bit, _case([(c, doc)])), bit))
                 for c, x in branches])
        df = df.withColumn(violations_col, violations)
        df = df.drop("__gjs_valid")
    return df.drop("__gjs_v")


def _elaborate_invalid(out: DataFrame, doc_col: str, branches: list,
                       otherwise: Column | None = None) -> DataFrame:
    """The rows of ``out`` whose `valid` bit is False, with `violations`
    from their branch's pass-2 UDF."""
    # barrier the bit BEFORE filtering: a bare filter(~valid) lets
    # PushPredicateThroughNonJoin substitute the whole predicate into a
    # FilterExec, which (unlike ProjectExec) performs NO subexpression
    # elimination — the variant->map conversion then re-evaluates once
    # per keyword reference (measured 3x the pass-1 cost at 200k docs).
    # Behind the Generate the predicate stays in the CSE'd Project and
    # the filter tests one boolean attribute. A NULL bit (an unknown kind
    # under on_unknown="null") fails it too.
    out = _barrier(out, "__gjs_vbit", F.col("valid"))
    bad = out.filter(~F.col("__gjs_vbit")).drop("__gjs_vbit")
    doc = F.col(doc_col)
    return bad.withColumn("violations", _case(
        [(c, x.violations(_case([(c, doc)]), F.lit(False)))
         for c, x in branches], otherwise))


def _flatten_violations(bad: DataFrame, *keys: str | Column) -> DataFrame:
    """Exploded violations: ``keys`` and the fields of one violation."""
    out = bad.select(*keys, F.explode("violations").alias("v"))
    return out.select(*out.columns[:-1], "v.*")


class SparkValidator:
    def __init__(self, schema, draft=Draft.HYBRID, auto_detect: bool = True,
                 validate_schema: bool = False, compiler: SchemaCompiler = None,
                 force_udf: bool = False):
        self.compiler = compiler or SchemaCompiler(
            draft=draft, auto_detect=auto_detect, validate_schema=validate_schema)
        self.compiled = self.compiler.compile(schema)
        self.column_plan = None
        self.frontier_plan = None
        self.violations_plan = None
        self.unsupported_reason = None
        self._sql_input = None  # (input, doc_col, frame, inexact Column)
        if not force_udf:
            # depth-3 unroll first; ref-dense schemas (meta-schema style)
            # whose unrolled plan explodes past the node cap retry at
            # depth 1 — shallower SQL coverage, more rows to the frontier
            for depth in (3, 1):
                try:
                    cc = ColumnPlanCompiler(self.compiled, max_ref_depth=depth)
                    self.column_plan = cc.compile()
                    # non-None for depth-unrolled cyclic $refs: rows nesting
                    # past the unroll are re-verdicted by the interpreter
                    self.frontier_plan = cc.frontier_plan
                    # non-None when every site emits its violation rows
                    self.violations_plan = cc.violations_plan
                    self.unsupported_reason = None
                    break
                except UnsupportedSchema as e:
                    self.unsupported_reason = str(e)
                    if "exceeds" not in str(e):
                        break

    @property
    def uses_column_plan(self) -> bool:
        return self.column_plan is not None

    @cached_property
    def _exprs(self) -> _Expressions:
        # built on first use, not in __init__: compile-only callers have
        # no SparkSession, and F.col needs one
        var = F.col("__gjs_v")
        plan = self.column_plan is not None
        # the SQL messages are rendered now, from the templates as they
        # stand; a '|' helper is a Python function, so no SQL rows
        messages = dict(MESSAGES)
        helpers = any("|" in field for t in messages.values()
                      for field in _FIELD_RX.findall(t))
        rows = None
        with shared_predicates():  # the rows reuse the valid bit's predicates
            valid = self.column_plan(var) if plan else None
            if self.violations_plan is not None and not helpers:
                rows = (F.when(var.isNull(), _rows_literal(_PARSE_FAILED))
                        .otherwise(self.violations_plan(var))
                        .cast(VIOLATION_SCHEMA))
        return _Expressions(
            valid=valid,
            deep=(self.frontier_plan(var) if self.frontier_plan is not None
                  else None),
            verdict=make_verdict_udf(self.compiled, with_violations=False),
            verdict_full=None if plan else make_verdict_udf(self.compiled),
            violations=make_violations_udf(self.compiled),
            rows=rows, messages=messages)

    # -- public API -----------------------------------------------------------

    def valid_column(self, variant_col: Column) -> Column:
        """Pure-SQL 'valid' bit over a VARIANT column (column plan only).

        Raises for depth-unrolled cyclic schemas: their exact verdict needs
        the hybrid deep-row fallback of :meth:`validate_json`."""
        if self.column_plan is None:
            raise UnsupportedSchema(self.unsupported_reason or "no column plan")
        if self.frontier_plan is not None:
            raise UnsupportedSchema(
                "cyclic $ref unroll frontier: use validate_json (hybrid)")
        return self.column_plan(variant_col)

    def validate_json(self, df: DataFrame, doc_col: str,
                      valid_col: str = "valid",
                      violations_col: str | None = "violations") -> DataFrame:
        """Validate a JSON-string column; appends `valid` (+ `violations`)."""
        return _dispatch(df, doc_col, [(None, self._exprs)], valid_col,
                         violations_col)

    def _sql_violations_ready(self) -> bool:
        """True when :meth:`_validate_json_sql` may run: the schema's
        violation rows exist in SQL, rendered from the current
        ``MESSAGES`` (a ``set_locale`` since then makes it False)."""
        x = self._exprs
        return x.rows is not None and x.messages == MESSAGES

    def _validate_json_sql(self, df: DataFrame, doc_col: str):
        """:meth:`validate_json` with `violations` built in SQL (no Python
        node in the plan), and the Column that flags its rows whose
        violations may differ from the interpreter's
        (``columns.violations_inexact``); a caller that cannot re-run
        those rows uses :meth:`validate_json`.

        The pair for the last input is kept: a caller filters the same
        frame again (every expression of the SQL path is deterministic,
        so a filter above it is pushed down to the scan) instead of
        resolving the Column DAG once more."""
        if not self._sql_violations_ready():
            raise ValueError("no SQL violations for this schema and locale")
        memo = self._sql_input
        if memo is None or memo[0] is not df or memo[1] != doc_col:
            memo = self._sql_input = (
                df, doc_col,
                _dispatch(df, doc_col, [(None, self._exprs)], "valid",
                          "violations", sql=True),
                violations_inexact("violations", doc_col))
        return memo[2:]

    def validate_variant(self, df: DataFrame, variant_col: str,
                         valid_col: str = "valid") -> DataFrame:
        """Validate an existing VARIANT column on the pure-SQL path."""
        return df.withColumn(valid_col, self.valid_column(F.col(variant_col)))

    def violations_table(self, df: DataFrame, doc_col: str,
                         key_cols: list[str]) -> DataFrame:
        """Exploded violations table: one row per (document, violation).

        Pass 1 computes the pure-SQL valid bit; the Filter prunes valid
        rows BEFORE the interpreter UDF node, so Arrow ships and Python
        parses only the invalid subset — guaranteed by plan structure, not
        by hoping the filter pushes through the Python-eval node."""
        if self.column_plan is None:
            bad = self.validate_json(df, doc_col).filter(~F.col("valid"))
        else:
            bad = _elaborate_invalid(
                self.validate_json(df, doc_col, violations_col=None),
                doc_col, [(None, self._exprs)])
        return _flatten_violations(bad, *key_cols)


class MultiSchemaValidator:
    """Per-row schema dispatch: each document validates against the schema
    selected by a key column (page kind, API version, tenant).

    A Common-Crawl-style corpus is heterogeneous — articles, products,
    events each carry their own contract. The reference can only do this
    row-at-a-time in host code (pick a *Schema, call Validate per doc);
    set-at-a-time the right shape is ONE shared variant parse behind a
    Generate barrier and a CASE WHEN chain of the per-kind column plans,
    so the whole dispatch stays inside whole-stage codegen. Kinds whose
    schema needs the interpreter (cyclic frontier, bignum, ...) fall back
    per-kind on a masked UDF input: Arrow ships only that kind's rows,
    never the corpus.

    ``on_unknown`` decides rows whose kind has no schema: "null" (not
    validated, the default), "valid", or "invalid".
    """

    def __init__(self, schemas: dict, on_unknown: str = "null", **kw):
        if on_unknown not in ("null", "valid", "invalid"):
            raise ValueError("on_unknown must be null|valid|invalid")
        self.validators = {k: SparkValidator(s, **kw) for k, s in schemas.items()}
        self.on_unknown = on_unknown

    def _branches(self, kind: Column) -> list:
        return [(kind == F.lit(k), v._exprs) for k, v in self.validators.items()]

    def validate_json(self, df: DataFrame, doc_col: str, kind_col: str,
                      valid_col: str = "valid") -> DataFrame:
        unknown = (None if self.on_unknown == "null"
                   else F.lit(self.on_unknown == "valid"))
        return _dispatch(df, doc_col, self._branches(F.col(kind_col)),
                         valid_col, otherwise=unknown)

    def violations_table(self, df: DataFrame, doc_col: str, kind_col: str,
                         key_cols: list[str]) -> DataFrame:
        """Exploded violations for the dispatched corpus, in ONE scan:
        the dispatch valid bit prunes valid rows first, then a CASE
        chain of per-kind elaboration UDFs runs over the invalid tail
        with kind-masked payloads (:func:`_elaborate_invalid`). A
        per-kind filter+union would rescan the corpus once per kind."""
        kind = F.col(kind_col)
        unknown_row = F.array(F.struct(
            F.lit("(root)").alias("field"),
            F.lit("unknown_kind").alias("keyword"),
            F.concat(F.lit("No schema registered for kind '"),
                     F.coalesce(kind, F.lit("null")),
                     F.lit("'")).alias("message"),
            kind.alias("value"),
            F.create_map().cast("map<string,string>").alias("details")))
        bad = _elaborate_invalid(self.validate_json(df, doc_col, kind_col),
                                 doc_col, self._branches(kind), unknown_row)
        return _flatten_violations(bad, *key_cols, kind.alias("kind"))
