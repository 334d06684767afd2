"""SparkValidator — the engine facade.

Compile once on the driver, validate set-at-a-time over DataFrames:

* pass 1 (hot path): pure-SQL VARIANT predicate DAG -> ``valid`` bit,
  whole-stage codegen, no Python in the loop;
* pass 2 (lazy): violation rows elaborated by the Arrow-batched interpreter
  UDF only for failing documents;
* fallback: schemas outside the Column subset run entirely on the
  interpreter UDF (same verdicts, exact semantics).

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
from .columns import ColumnPlanCompiler, UnsupportedSchema
from .udf import make_verdict_udf, make_violations_udf

__all__ = ["SparkValidator", "MultiSchemaValidator"]


class _Expressions(NamedTuple):
    """A validator's Spark expressions, shared by all of its calls.

    ``valid`` (the column-plan bit, None on the interpreter path) and
    ``deep`` (the frontier reach detector, hybrid plans only) read the
    ``__gjs_v`` variant. ``verdict`` fills only the `valid` field;
    ``verdict_full`` also fills `violations` and exists only on the
    interpreter path; ``violations`` is the pass-2 elaboration UDF."""
    valid: Column | None
    deep: Column | None
    verdict: Callable[..., Column]
    verdict_full: Callable[..., Column] | None
    violations: Callable[..., Column]


def _barrier(df: DataFrame, name: str, expr: Column) -> DataFrame:
    """Materialize ``expr`` as column ``name`` behind a Generate node so
    CollapseProject cannot re-inline it into every consumer."""
    return df.select("*", F.explode(F.array(expr)).alias(name))


class SparkValidator:
    def __init__(self, schema, draft=Draft.HYBRID, auto_detect: bool = True,
                 validate_schema: bool = False, compiler: SchemaCompiler = None,
                 force_udf: bool = False):
        self.compiler = compiler or SchemaCompiler(
            draft=draft, auto_detect=auto_detect, validate_schema=validate_schema)
        self.compiled = self.compiler.compile(schema)
        self.column_plan = None
        self.frontier_plan = None
        self.unsupported_reason = None
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
        return _Expressions(
            valid=self.column_plan(var) if plan else None,
            deep=(self.frontier_plan(var) if self.frontier_plan is not None
                  else None),
            verdict=make_verdict_udf(self.compiled, with_violations=False),
            verdict_full=None if plan else make_verdict_udf(self.compiled),
            violations=make_violations_udf(self.compiled))

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
        doc = F.col(doc_col)
        x = self._exprs
        if x.valid is not None:
            # explode(array(x)) is a Generate node: a deliberate projection
            # barrier so (a) the variant parse materializes once instead of
            # being re-inlined per keyword by CollapseProject, and (b) the
            # pass-2 UDF receives the `valid` ATTRIBUTE, not a re-evaluated
            # (interpreted, non-codegen) copy of the whole predicate.
            df = _barrier(df, "__gjs_v", F.try_parse_json(doc))
            if x.deep is None:
                df = df.withColumn(valid_col, x.valid)
            else:
                # hybrid: rows nesting past the compile-time $ref unroll are
                # re-verdicted by the exact interpreter; the UDF input is
                # masked to NULL for shallow rows so Arrow ships (and Python
                # parses) only the deep tail
                df = _barrier(df, "__gjs_deep", x.deep)
                deep_doc = F.when(F.col("__gjs_deep"), doc)
                df = df.withColumn(
                    valid_col,
                    F.when(F.col("__gjs_deep"), x.verdict(deep_doc)["valid"])
                     .otherwise(x.valid))
                df = df.drop("__gjs_deep")
            if violations_col:
                df = _barrier(df, "__gjs_valid", F.col(valid_col))
                # mask the payload for valid rows: Arrow then ships nulls
                # instead of document bodies for the (majority) happy path
                masked = F.when(~F.col("__gjs_valid"), doc)
                df = df.withColumn(violations_col,
                                   x.violations(masked, F.col("__gjs_valid")))
                df = df.drop("__gjs_valid")
            return df.drop("__gjs_v")
        verdict = x.verdict_full if violations_col else x.verdict
        tmp = "__verdict__"
        df = df.withColumn(tmp, verdict(doc))
        df = df.withColumn(valid_col, F.col(f"{tmp}.valid"))
        if violations_col:
            df = df.withColumn(violations_col, F.col(f"{tmp}.violations"))
        return df.drop(tmp)

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
        if self.column_plan is not None:
            out = self.validate_json(df, doc_col, violations_col=None)
            # barrier the bit BEFORE filtering: a bare filter(~valid) lets
            # PushPredicateThroughNonJoin substitute the whole predicate
            # into a FilterExec, which (unlike ProjectExec) performs NO
            # subexpression elimination — the variant->map conversion then
            # re-evaluates once per keyword reference (measured 3x the
            # pass-1 cost at 200k docs). Behind the Generate the predicate
            # stays in the CSE'd Project and the filter tests one boolean
            # attribute.
            out = _barrier(out, "__gjs_vbit", F.col("valid"))
            elaborate = self._exprs.violations
            bad = (out.filter(~F.col("__gjs_vbit")).drop("__gjs_vbit")
                      .withColumn("violations",
                                  elaborate(F.col(doc_col), F.lit(False))))
        else:
            bad = self.validate_json(df, doc_col).filter(~F.col("valid"))
        return (bad.select(*key_cols, F.explode("violations").alias("v"))
                   .select(*key_cols,
                           F.col("v.field").alias("field"),
                           F.col("v.keyword").alias("keyword"),
                           F.col("v.message").alias("message"),
                           F.col("v.value").alias("value"),
                           F.col("v.details").alias("details")))


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

    def validate_json(self, df: DataFrame, doc_col: str, kind_col: str,
                      valid_col: str = "valid") -> DataFrame:
        doc, kind = F.col(doc_col), F.col(kind_col)
        df = _barrier(df, "__gjs_v", F.try_parse_json(doc))
        expr = None
        for k, v in self.validators.items():
            x = v._exprs
            if x.valid is not None and x.deep is None:
                branch = x.valid
            elif x.valid is not None:
                masked = F.when(x.deep & (kind == k), doc)
                branch = (F.when(x.deep, x.verdict(masked)["valid"])
                           .otherwise(x.valid))
            else:
                branch = x.verdict(F.when(kind == k, doc))["valid"]
            expr = (F.when(kind == F.lit(k), branch) if expr is None
                    else expr.when(kind == F.lit(k), branch))
        if expr is None:
            expr = F.lit(None).cast("boolean")
        if self.on_unknown != "null":
            expr = expr.otherwise(F.lit(self.on_unknown == "valid"))
        return df.withColumn(valid_col, expr).drop("__gjs_v")

    def violations_table(self, df: DataFrame, doc_col: str, kind_col: str,
                         key_cols: list[str]) -> DataFrame:
        """Exploded violations for the dispatched corpus, in ONE scan:
        the dispatch valid bit prunes valid rows first (same barrier
        discipline as SparkValidator.violations_table), then a CASE
        chain of per-kind elaboration UDFs runs over the invalid tail
        with kind-masked payloads. A per-kind filter+union would rescan
        the corpus once per kind."""
        out = self.validate_json(df, doc_col, kind_col)
        out = _barrier(out, "__gjs_vbit", F.col("valid"))
        bad = (out.filter(F.col("__gjs_vbit").isNotNull()
                          & ~F.col("__gjs_vbit")).drop("__gjs_vbit"))
        doc, kind = F.col(doc_col), F.col(kind_col)
        expr = None
        for k, v in self.validators.items():
            branch = v._exprs.violations(F.when(kind == k, doc), F.lit(False))
            expr = (F.when(kind == F.lit(k), branch) if expr is None
                    else expr.when(kind == F.lit(k), branch))
        unknown_row = F.array(F.struct(
            F.lit("(root)").alias("field"),
            F.lit("unknown_kind").alias("keyword"),
            F.concat(F.lit("No schema registered for kind '"),
                     F.coalesce(kind, F.lit("null")),
                     F.lit("'")).alias("message"),
            kind.alias("value"),
            F.create_map().cast("map<string,string>").alias("details")))
        expr = (unknown_row if expr is None else expr.otherwise(unknown_row))
        bad = bad.withColumn("violations", expr)
        return (bad.select(*key_cols, kind.alias("kind"),
                           F.explode("violations").alias("v"))
                   .select(*key_cols, "kind",
                           F.col("v.field").alias("field"),
                           F.col("v.keyword").alias("keyword"),
                           F.col("v.message").alias("message"),
                           F.col("v.value").alias("value"),
                           F.col("v.details").alias("details")))
