"""Spark engine tests: differential gate (column plan vs golden verdicts)
plus end-to-end behaviors of the two-pass design and the UDF fallback."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from gojsonschema_spark.core.jsonvalue import dump_lexical
from gojsonschema_spark.core.suite import load_cases
from gojsonschema_spark.spark.engine import SparkValidator

pytestmark = pytest.mark.spark


def _column_plan_corpus():
    """(validator, [(data_json, expected)]) for every suite schema the
    Column plan claims to support. Schemas with remote refs need the
    remotes store; register them like the suite runner does."""
    from gojsonschema_spark.core.compiler import SchemaCompiler
    from gojsonschema_spark.core.suite import register_remotes

    corpus = []
    n_total = n_column = 0
    for draft, rel, schema, cases in load_cases(include_extra=True):
        n_total += 1
        compiler = SchemaCompiler(draft=draft, auto_detect=True)
        register_remotes(compiler)
        try:
            v = SparkValidator(schema, compiler=compiler)
        except Exception:
            continue
        if not v.uses_column_plan:
            continue
        n_column += 1
        from gojsonschema_spark.core.suite import reference_expected
        rows = []
        for c in cases:
            exp = reference_expected(draft, rel, c)
            rows.append((dump_lexical(c.data), exp, f"{draft}/{rel}/{c.group}/{c.case}"))
        corpus.append((v, rows))
    assert n_column >= 0.5 * n_total, (
        f"column plan coverage collapsed: {n_column}/{n_total}")
    return corpus


def test_column_plan_differential_vs_suite(spark):
    """Every column-plan-supported suite schema must reproduce the golden
    verdicts on Spark — one batched job per chunk of schemas."""
    corpus = _column_plan_corpus()
    chunk_size = 25
    mismatches = []
    for start in range(0, len(corpus), chunk_size):
        chunk = corpus[start:start + chunk_size]
        rows = []
        for sid, (v, cases) in enumerate(chunk):
            for data_json, exp, label in cases:
                rows.append((sid, data_json, exp, label))
        df = spark.createDataFrame(rows, ["sid", "doc", "expected", "label"])
        var = F.try_parse_json(F.col("doc"))
        pred = None
        deep = None
        for sid, (v, _) in enumerate(chunk):
            branch = v.column_plan(var)
            pred = (F.when(F.col("sid") == sid, branch) if pred is None
                    else pred.when(F.col("sid") == sid, branch))
            # depth-unrolled cyclic schemas: rows past the unroll frontier
            # are interpreter-verdicted in validate_json (hybrid) — the
            # SQL bit alone is not the engine's verdict there, so exclude
            # them here (interpreter parity is the suite gate's job)
            fr = (v.frontier_plan(var) if v.frontier_plan is not None
                  else F.lit(False))
            deep = (F.when(F.col("sid") == sid, fr) if deep is None
                    else deep.when(F.col("sid") == sid, fr))
        out = df.withColumn("got", pred).withColumn("deep", deep).collect()
        for r in out:
            if r.got != r.expected and not r.deep:
                mismatches.append(f"{r.label}: expected {r.expected}, got {r.got}")
    assert not mismatches, f"{len(mismatches)} mismatches:\n" + "\n".join(mismatches[:40])


def test_hybrid_schemas_end_to_end_vs_golden(spark):
    """Every suite schema that compiles to a HYBRID plan (frontier
    detector present) must reproduce the golden verdicts through the full
    validate_json path — SQL for shallow rows, interpreter for rows the
    detector routes past the frontier."""
    from gojsonschema_spark.core.compiler import SchemaCompiler
    from gojsonschema_spark.core.suite import (load_cases, reference_expected,
                                               register_remotes)

    n_hybrid = 0
    mismatches = []
    for draft, rel, schema, cases in load_cases(include_extra=True):
        compiler = SchemaCompiler(draft=draft, auto_detect=True)
        register_remotes(compiler)
        try:
            v = SparkValidator(schema, compiler=compiler)
        except Exception:
            continue
        if not v.uses_column_plan or v.frontier_plan is None:
            continue
        n_hybrid += 1
        rows = [(dump_lexical(c.data),
                 reference_expected(draft, rel, c),
                 f"{draft}/{rel}/{c.group}/{c.case}") for c in cases]
        df = spark.createDataFrame(rows, ["doc", "expected", "label"])
        out = v.validate_json(df, "doc", violations_col=None).collect()
        for r in out:
            if r.valid != r.expected:
                mismatches.append(f"{r.label}: expected {r.expected}, got {r.valid}")
    assert n_hybrid >= 10, f"hybrid plan count collapsed: {n_hybrid}"
    assert not mismatches, "\n".join(mismatches[:40])


def test_udf_fallback_full_parity(spark):
    """Schemas without a column plan run on the interpreter UDF — spot-check
    a bignum-exact multipleOf schema end to end on Spark."""
    u = SparkValidator({"multipleOf": 1e-30})
    assert not u.uses_column_plan
    df = spark.createDataFrame([('3e-30',), ('1.5e-30',), ('"s"',)], ["doc"])
    got = [r.valid for r in u.validate_json(df, "doc").collect()]
    assert got == [True, False, True]


def test_unique_items_composite_hybrid(spark):
    """Bare uniqueItems (no typed items) compiles to the HYBRID plan:
    scalar-only arrays are judged in SQL, arrays holding an object/array
    element route to the exact interpreter (key-order-insensitive
    canonical equality, reference validation.go:530-547)."""
    u = SparkValidator({"uniqueItems": True})
    assert u.uses_column_plan
    assert u.frontier_plan is not None
    docs = ['[1, 1.0]',                      # scalar dup -> SQL
            '[1, true]',                     # scalar unique -> SQL
            '[{"a":1},{"a":1.0}]',           # composite dup -> interpreter
            '[{"a":1,"b":2},{"b":2,"a":1}]',  # key-order dup -> interpreter
            '[[1],[1.0]]',                   # nested-array dup -> interpreter
            '[{"a":1},{"a":2}]',             # composite unique
            '"not an array"']
    expect = [False, True, False, False, False, True, True]
    df = spark.createDataFrame([(d,) for d in docs], ["doc"])
    got = [r.valid for r in u.validate_json(df, "doc").collect()]
    assert got == expect
    fu = SparkValidator({"uniqueItems": True}, force_udf=True)
    assert [r.valid for r in fu.validate_json(df, "doc").collect()] == expect
    # detector fires exactly for the container-bearing arrays
    deep = [r.d for r in df.select(
        u.frontier_plan(F.try_parse_json("doc")).alias("d")).collect()]
    assert deep == [False, False, True, True, True, True, False]


def test_cyclic_ref_depth_unroll_hybrid(spark):
    """Cyclic $refs compile to a depth-3 unrolled SQL plan; only documents
    that nest past the unroll frontier fall back to the interpreter
    (reference schema.go:975-977 walks the cycle dynamically)."""
    v = SparkValidator({
        "definitions": {"node": {
            "type": "object",
            "properties": {"next": {"$ref": "#/definitions/node"}},
            "additionalProperties": False}},
        "$ref": "#/definitions/node"})
    assert v.uses_column_plan
    assert v.frontier_plan is not None
    docs = [
        '{"next": {"next": {}}}',                      # shallow: SQL
        '{"next": 1}',                                 # shallow invalid
        '{"bad": true}',                               # shallow invalid
        '{"next": {"next": {"next": {"next": {}}}}}',  # deep: interpreter
        '{"next": {"next": {"next": {"next": 7}}}}',   # deep invalid
        '{broken',                                     # malformed
    ]
    expect = [True, False, False, True, False, False]
    df = spark.createDataFrame([(d,) for d in docs], ["doc"])
    got = [r.valid for r in v.validate_json(df, "doc").collect()]
    assert got == expect
    # force_udf parity on the same corpus
    u = SparkValidator({
        "definitions": {"node": {
            "type": "object",
            "properties": {"next": {"$ref": "#/definitions/node"}},
            "additionalProperties": False}},
        "$ref": "#/definitions/node"}, force_udf=True)
    assert [r.valid for r in u.validate_json(df, "doc").collect()] == expect

    # the frontier detector only fires for genuinely deep rows
    from pyspark.sql import functions as SF
    deep = [r.d for r in df.select(
        v.frontier_plan(SF.try_parse_json("doc")).alias("d")).collect()]
    assert deep == [False, False, False, True, True, False]

    # mutually-recursive pair through combinators
    m = SparkValidator({
        "definitions": {
            "a": {"anyOf": [{"type": "integer"},
                            {"type": "object",
                             "properties": {"b": {"$ref": "#/definitions/b"}},
                             "required": ["b"]}]},
            "b": {"items": {"$ref": "#/definitions/a"}}},
        "$ref": "#/definitions/a"})
    assert m.uses_column_plan
    mdocs = ['5', '{"b": [1, 2]}', '{"b": [{"b": []}]}',
             '{"b": [{"b": [{"b": [{"b": [{"b": [0]}]}]}]}]}',
             '{"b": [{"b": [{"b": [{"b": [{"b": ["x"]}]}]}]}]}']
    mexp = [True, True, True, True, False]
    mdf = spark.createDataFrame([(d,) for d in mdocs], ["doc"])
    assert [r.valid for r in m.validate_json(mdf, "doc").collect()] == mexp
    mu = SparkValidator({
        "definitions": {
            "a": {"anyOf": [{"type": "integer"},
                            {"type": "object",
                             "properties": {"b": {"$ref": "#/definitions/b"}},
                             "required": ["b"]}]},
            "b": {"items": {"$ref": "#/definitions/a"}}},
        "$ref": "#/definitions/a"}, force_udf=True)
    assert [r.valid for r in mu.validate_json(mdf, "doc").collect()] == mexp


def test_unique_items_sql_path(spark):
    """Scalar-guaranteed uniqueItems compiles to the pure-SQL plan and
    matches the exact interpreter on canonical-equality corner cases
    (reference validation.go:530-547)."""
    schema = {"properties": {"a": {
        "items": {"type": ["integer", "number", "null", "boolean", "string"]},
        "uniqueItems": True}}, "required": ["a"]}
    v = SparkValidator(schema)
    assert v.uses_column_plan, v.unsupported_reason
    u = SparkValidator(schema, force_udf=True)
    docs = ['{"a": [1, 1.0]}',        # numeric lexical forms collapse
            '{"a": [1e2, 100]}',      # exponent form collapses
            '{"a": ["1", 1]}',        # string vs number stay distinct
            '{"a": [true, 1]}',       # bool vs number stay distinct
            '{"a": [0, false]}',
            '{"a": [null, null]}',
            '{"a": ["a", "b", "a"]}',
            '{"a": [1, 2, 3]}',
            # canonical equality is FLOAT64 collapse (marshalWithoutNumber,
            # utils.go:84-104): deep-scale renderings of 1 are duplicates
            '{"a": [1, 1.0000000000000000000]}',
            '{"a": [1, 1.00000000000000000001]}',
            # distinct doubles stay distinct
            '{"a": [1.5e-20, 2]}',
            '{"a": [0.1, 0.2]}']
    df = spark.createDataFrame([(d,) for d in docs], ["doc"])
    got_col = [r.valid for r in
               v.validate_json(df, "doc", violations_col=None).collect()]
    got_udf = [r.valid for r in
               u.validate_json(df, "doc", violations_col=None).collect()]
    assert got_col == got_udf == [False, False, True, True, True,
                                  False, False, True,
                                  False, False, True, True]

    # without a scalar guarantee the plan goes hybrid (frontier detector)
    w = SparkValidator({"uniqueItems": True})
    assert w.uses_column_plan and w.frontier_plan is not None


def test_deep_scale_numeric_bounds_sql_vs_interpreter(spark):
    """_num_dec's value-based lossiness (r3): renderings whose dropped
    digits are all zeros stay on the exact DECIMAL path for bounds /
    multipleOf / integer checks; only genuinely >18-scale values fall to
    the documented double branch. Column plan must agree with the exact
    interpreter on every form where the double branch happens to be exact
    too (the fuzz gate excludes the residual divergence class)."""
    schema = {"properties": {"n": {"type": "integer", "minimum": 1,
                                   "multipleOf": 1}}, "required": ["n"]}
    v = SparkValidator(schema)
    assert v.uses_column_plan
    u = SparkValidator(schema, force_udf=True)
    docs = [
        '{"n": 1}',
        '{"n": 1.0000000000000000000}',        # scale 19, all zeros -> 1
        '{"n": 0.5000000000000000001}',        # scale 19 nonzero: not int
                                               # (double image 0.5 agrees)
        '{"n": 1e2}',
        '{"n": 100.000000000000000000000000}',  # scale 24, all zeros
        '{"n": 2.00000000000000000000e2}',      # exp + deep zeros -> 200
        '{"n": 0.5}',
        '{"n": -1}',
    ]
    df = spark.createDataFrame([(d,) for d in docs], ["doc"])
    got_col = [r.valid for r in
               v.validate_json(df, "doc", violations_col=None).collect()]
    got_udf = [r.valid for r in
               u.validate_json(df, "doc", violations_col=None).collect()]
    assert got_col == got_udf == [True, True, False, True, True, True,
                                  False, False]


def test_custom_format_checker_both_paths(spark):
    """FormatRegistry.add()/remove() must flip verdicts identically on the
    column plan and the interpreter UDF (reference format_checkers.go:147-188:
    the checker sees the decoded value of ANY JSON type)."""
    from gojsonschema_spark.core.compiler import SchemaCompiler
    from gojsonschema_spark.core.formats import FormatRegistry

    def even_length(v):
        if isinstance(v, str):
            return len(v) % 2 == 0
        if isinstance(v, dict):
            return len(v) <= 1  # custom checkers may judge non-strings
        return True

    reg = FormatRegistry().add("even-length", even_length)
    schema = {"properties": {"x": {"format": "even-length"}}}
    docs = [('{"x": "ab"}',), ('{"x": "abc"}',), ('{"x": 7}',),
            ('{"x": null}',), ('{"x": {"a":1,"b":2}}',), ('{"x": {"a":1}}',)]
    expect = [True, False, True, True, False, True]
    df = spark.createDataFrame(docs, ["doc"])

    col_v = SparkValidator(schema, compiler=SchemaCompiler(formats=reg))
    assert col_v.uses_column_plan
    udf_v = SparkValidator(schema, compiler=SchemaCompiler(formats=reg),
                           force_udf=True)
    got_col = [r.valid for r in
               col_v.validate_json(df, "doc", violations_col=None).collect()]
    got_udf = [r.valid for r in
               udf_v.validate_json(df, "doc", violations_col=None).collect()]
    assert got_col == expect
    assert got_udf == expect

    # overriding a BUILTIN must shadow its SQL predicate on the column path
    reg2 = FormatRegistry().add(
        "date", lambda v: v == "2020-01-01" if isinstance(v, str) else True)
    dv = SparkValidator({"properties": {"d": {"format": "date"}}},
                        compiler=SchemaCompiler(formats=reg2))
    assert dv.uses_column_plan
    ddf = spark.createDataFrame(
        [('{"d": "2020-01-01"}',), ('{"d": "2020-06-15"}',)], ["doc"])
    assert [r.valid for r in
            dv.validate_json(ddf, "doc", violations_col=None).collect()] == \
        [True, False]

    # remove()d builtin behaves like an unknown format: always passes
    reg3 = FormatRegistry().remove("hostname")
    hv = SparkValidator({"properties": {"h": {"format": "hostname"}}},
                        compiler=SchemaCompiler(formats=reg3))
    hdf = spark.createDataFrame([('{"h": "_bad_"}',)], ["doc"])
    assert [r.valid for r in
            hv.validate_json(hdf, "doc", violations_col=None).collect()] == [True]


def test_two_pass_violations(spark):
    schema = {"type": "object", "required": ["url"],
              "properties": {"url": {"type": "string", "format": "uri"},
                             "lang": {"type": "string", "pattern": "^[a-z]{2}$"}}}
    v = SparkValidator(schema, draft="draft7")
    assert v.uses_column_plan
    df = spark.createDataFrame(
        [("a", '{"url": "http://x.com", "lang": "en"}'),
         ("b", '{"lang": "English"}'),
         ("c", "{broken")], ["id", "doc"])
    viol = v.violations_table(df, "doc", ["id"]).collect()
    by_id = {}
    for r in viol:
        by_id.setdefault(r.id, []).append((r.keyword, r.field))
    assert "a" not in by_id
    assert ("required", "(root)") in by_id["b"]
    assert ("pattern", "lang") in by_id["b"]
    assert by_id["c"] == [("invalid_document", "(root)")]
    # message parity with the reference locale
    msgs = {r.keyword: r.message for r in viol if r.id == "b"}
    assert msgs["required"] == "url is required"
    assert msgs["pattern"] == "Does not match pattern '^[a-z]{2}$'"


def test_recursion_limit_verdict_not_job_crash(spark):
    """README "Differences" items 3b/4: documents nested past the variant
    container-depth limit (1000) get the SAME invalid_document verdict on
    the UDF path as on the SQL path, at the exact boundary; and a
    schema x instance combination whose validation frames exceed the
    worker recursion limit yields a controlled `recursion_limit`
    violation instead of killing the executor."""
    docs = {
        "deep10000": "[" * 10000 + "]" * 10000,
        "depth1001": "[" * 1001 + "]" * 1001,
        "depth1000": "[" * 1000 + "]" * 1000,   # at the limit: valid
        "ok": "[[1]]",
    }
    v = SparkValidator({"items": {"$ref": "#"},
                        "type": ["array", "integer"]}, force_udf=True)
    df = spark.createDataFrame(list(docs.items()), ["id", "doc"])
    out = {r.id: r for r in
           v.validate_json(df, "doc").select("id", "valid", "violations").collect()}
    assert out["ok"].valid
    assert out["depth1000"].valid
    for key in ("deep10000", "depth1001"):
        assert not out[key].valid
        assert out[key].violations[0].keyword == "invalid_document"
    # SQL path agrees at the boundary
    sv = SparkValidator({"items": {"$ref": "#"}, "type": ["array", "integer"]})
    got = {r.id: r.valid for r in
           sv.validate_json(df, "doc", violations_col=None).collect()}
    assert {k: bool(v_) for k, v_ in got.items()} == {
        "deep10000": False, "depth1001": False, "depth1000": True, "ok": True}

    # recursion_limit safety net: frame-amplifying schema (6 allOf hops +
    # a $ref per instance level) on a depth-950 document — within the
    # variant limit, beyond the 20000-frame worker stack
    amp = {"$ref": "#/definitions/n", "definitions": {"n": {
        "allOf": [{"allOf": [{"allOf": [{"allOf": [{"allOf": [{"allOf": [
            {"items": {"$ref": "#/definitions/n"}}]}]}]}]}]}]}}}
    uv = SparkValidator(amp, force_udf=True)
    deep950 = "[" * 950 + "]" * 950
    row = uv.validate_json(
        spark.createDataFrame([(deep950,)], ["doc"]), "doc").collect()[0]
    assert not row.valid
    assert row.violations[0].keyword == "recursion_limit"


def test_multi_schema_dispatch_verdicts(spark):
    """MultiSchemaValidator: per-kind verdicts and violations equal the
    single-schema engine's on every path (column plan, hybrid with deep
    rows, interpreter only), one shared parse, unknown kinds per
    on_unknown."""
    from gojsonschema_spark.spark.engine import MultiSchemaValidator

    schemas = {
        "article": {"type": "object", "required": ["title"],
                    "properties": {"title": {"type": "string", "minLength": 1}}},
        "product": {"type": "object",
                    "properties": {"price": {"type": "number", "minimum": 0}}},
        # bignum multipleOf: overflowed values go to the frontier (hybrid)
        "metric": {"multipleOf": 0.0001},
        # composite duplicates are decided by the interpreter (hybrid)
        "tags": {"type": "array", "uniqueItems": True},
        # a bound beyond double range has no column plan (interpreter only)
        "huge": '{"maximum": 1e400}',
    }
    rows = [
        ("a1", "article", '{"title": "hello"}'),
        ("a2", "article", '{"title": ""}'),
        ("a3", "article", '{}'),
        ("p1", "product", '{"price": 3.5}'),
        ("p2", "product", '{"price": -1}'),
        ("m1", "metric", "19.9999999999999"),
        ("m2", "metric", "0.0002"),
        ("t1", "tags", "[[1], [1]]"),
        ("t2", "tags", "[[1], [2]]"),
        ("t3", "tags", None),
        ("h1", "huge", "1e500"),
        ("h2", "huge", "5"),
        ("h3", "huge", "{bad"),
        ("x1", "video", '{"anything": 1}'),
    ]
    df = spark.createDataFrame(rows, "id string, kind string, doc string")

    mv = MultiSchemaValidator(schemas)
    paths = {k: (v.uses_column_plan, v.frontier_plan is not None)
             for k, v in mv.validators.items()}
    assert paths == {"article": (True, False), "product": (True, False),
                     "metric": (True, True), "tags": (True, True),
                     "huge": (False, False)}
    got = {r.id: r.valid for r in mv.validate_json(df, "doc", "kind").collect()}

    def key(r):  # details is a map: make violation rows sortable
        return tuple(sorted(x.items()) if isinstance(x, dict) else x
                     for x in r)

    # expected: each kind through the single-schema engine
    want_table = []
    for k, schema in schemas.items():
        v = SparkValidator(schema)
        sub = df.filter(F.col("kind") == k)
        for r in v.validate_json(sub, "doc", violations_col=None).collect():
            assert got[r.id] == r.valid, (r.id, got[r.id], r.valid)
        want_table += [key((r.id, k, *r[1:])) for r in
                       v.violations_table(sub, "doc", ["id"]).collect()]
    assert [got[i] for i in ("t1", "t2", "t3", "h1", "h2", "h3")] == [
        False, True, False, False, True, False]
    assert got["x1"] is None  # default on_unknown="null"

    strict = MultiSchemaValidator(schemas, on_unknown="invalid")
    got2 = {r.id: r.valid for r in strict.validate_json(df, "doc", "kind").collect()}
    assert got2["x1"] is False and got2["a1"] is True
    table = sorted(key(r) for r in
                   strict.violations_table(df, "doc", "kind", ["id"]).collect())
    assert [t for t in table if t[0] != "x1"] == sorted(want_table)
    assert [t[1:4] for t in table if t[0] == "x1"] == [
        ("video", "(root)", "unknown_kind")]

    lax = MultiSchemaValidator(schemas, on_unknown="valid")
    got3 = {r.id: r.valid for r in lax.validate_json(df, "doc", "kind").collect()}
    assert got3["x1"] is True and got3["a2"] is False


def test_multi_schema_dispatch_plan_quality(spark):
    """All-pure-SQL kinds: the dispatch plan has NO Python eval node and
    exactly one variant parse shared by every branch."""
    from gojsonschema_spark.spark.engine import MultiSchemaValidator

    mv = MultiSchemaValidator({
        "a": {"type": "object", "required": ["x"]},
        "b": {"type": "array", "minItems": 1},
        "c": {"type": "string", "pattern": "^h"},
    })
    df = spark.createDataFrame([("a", '{"x":1}')], ["kind", "doc"])
    out = mv.validate_json(df, "doc", "kind")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan
    # the variant parse (rendered as VariantExpressionEvalUtils.parseJson)
    # happens once in the Generate barrier; all branches read the attribute
    assert plan.count("parseJson") == 1, plan


def test_multi_schema_violations_table(spark):
    """One-scan violations for the dispatched corpus; unknown kinds get a
    synthetic unknown_kind row when on_unknown='invalid'."""
    from gojsonschema_spark.spark.engine import MultiSchemaValidator

    mv = MultiSchemaValidator({
        "article": {"type": "object", "required": ["title"]},
        "product": {"type": "object",
                    "properties": {"price": {"minimum": 0}}},
    }, on_unknown="invalid")
    df = spark.createDataFrame([
        ("a1", "article", '{"title": "x"}'),
        ("a2", "article", '{}'),
        ("p1", "product", '{"price": -4}'),
        ("x1", "video", "{}"),
    ], ["id", "kind", "doc"])
    rows = mv.violations_table(df, "doc", "kind", ["id"]).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r.id, []).append((r.kind, r.keyword, r.field))
    assert "a1" not in by_id
    assert by_id["a2"] == [("article", "required", "(root)")]
    assert by_id["p1"] == [("product", "number_gte", "price")]
    assert by_id["x1"] == [("video", "unknown_kind", "(root)")]
    # reference locale rendering still flows through per-kind compilers
    msgs = {r.id: r.message for r in rows}
    assert msgs["a2"] == "title is required"


def test_duplicate_key_documents_one_verdict_both_paths(spark):
    """README "Differences" item 4: documents with duplicate object keys
    are invalid_document on BOTH engine paths. (Go's json.Unmarshal keeps
    the last duplicate; Spark's variant parser rejects the document — one
    engine must give one verdict, so the interpreter path matches SQL.)"""
    dup = '{"a": 1, "a": 2}'
    ok = '{"a": 2}'
    schema = {"properties": {"a": {"const": 2}}}
    df = spark.createDataFrame([(dup,), (ok,)], ["doc"])
    for v in (SparkValidator(schema), SparkValidator(schema, force_udf=True)):
        rows = v.validate_json(df, "doc").collect()
        got = {r.doc: (r.valid, [x.keyword for x in r.violations]) for r in rows}
        assert got[ok] == (True, [])
        assert got[dup][0] is False
        assert got[dup][1] == ["invalid_document"]


def test_overflow_number_class_differential(spark):
    """Literals beyond double range parse into the variant as +-Infinity
    (rendered identically to the STRING "Infinity"). The column plan must
    match the exact interpreter across the whole keyword surface: exact
    SQL for type/bounds/const (an overflowed value is always an integer
    and exceeds every finite bound), frontier routing for multipleOf and
    uniqueItems (divisibility/distinctness of the lost lexical is
    undecidable in SQL), and schema-literal compile gates."""
    from gojsonschema_spark.core.compiler import SchemaCompiler
    from gojsonschema_spark.core.interpreter import validate_document
    from gojsonschema_spark.core.jsonvalue import parse_json

    cases = [
        ({"type": "integer"}, ["1e999", "-1e999", "1.5e999", '"Infinity"']),
        ({"type": "number"}, ["1e999", '"Infinity"', '"1e999"']),
        ({"type": "string"}, ["1e999", '"Infinity"']),
        ({"maximum": 1e308}, ["1e999", "-1e999", "1e308", '"Infinity"']),
        ({"minimum": -1e308}, ["1e999", "-1e999", '"-Infinity"']),
        ({"multipleOf": 2}, ["1e999", "2", "3", '"Infinity"']),
        ({"multipleOf": 7}, ["1e999", "7e999", "14"]),
        ({"uniqueItems": True}, ["[1e999, 2e999]", "[1e999, 1e999]",
                                 '["Infinity", "Infinity"]', "[1, 2]",
                                 '[1e999, "Infinity"]']),
        ({"items": {"type": "integer"}, "uniqueItems": True},
         ["[1, 2]", "[1e999, 2e999]"]),
        ({"const": 5}, ["1e999", "5", '"Infinity"']),
        ({"enum": [1, "Infinity"]}, ["1e999", "1", '"Infinity"']),
    ]
    mismatches = []
    for schema, docs in cases:
        v = SparkValidator(schema)
        assert v.uses_column_plan, schema
        compiled = SchemaCompiler(auto_detect=True).compile(schema)
        ref = [validate_document(compiled, parse_json(d)).valid() for d in docs]
        df = spark.createDataFrame([(d,) for d in docs], ["doc"])
        got = {r.doc: r.valid for r in
               v.validate_json(df, "doc", violations_col=None).collect()}
        for d, want in zip(docs, ref):
            if got[d] != want:
                mismatches.append((schema, d, got[d], want))
    assert not mismatches, mismatches

    # schema-literal gates: lexicals outside double range leave the column
    # plan entirely (UDF fallback stays exact; verified via oracle above)
    for schema_json in ('{"maximum": 1e999}', '{"const": 1e999}',
                        '{"enum": [1e999]}', '{"multipleOf": 1e999}'):
        u = SparkValidator(parse_json(schema_json))
        assert not u.uses_column_plan, schema_json


def test_negative_zero_residual(spark):
    """README deviation 2 residual, pinned so a silent change is caught:
    '-0'/'-0.0' parse into sign-less BIGINT/DECIMAL variants, so SQL
    uniqueItems keys them equal to 0 (the reference's marshalWithoutNumber
    keeps "-0" distinct); '-0e0' takes the DOUBLE type and keeps its
    sign, matching the reference on both paths."""
    from gojsonschema_spark.core.compiler import compile_schema
    from gojsonschema_spark.io.loaders import string_loader

    v = SparkValidator({"items": {"type": "number"}, "uniqueItems": True})
    s = compile_schema({"items": {"type": "number"}, "uniqueItems": True})
    df = spark.createDataFrame(
        [("[0, -0]",), ("[0.0, -0.0]",), ("[0, -0e0]",), ("[-0e0, -0.0]",)],
        ["doc"])
    got = {r.doc: r.valid for r in
           v.validate_json(df, "doc", violations_col=None).collect()}
    ref = {d: s.validate(string_loader(d)).valid()
           for d in ["[0, -0]", "[0.0, -0.0]", "[0, -0e0]", "[-0e0, -0.0]"]}
    # reference: "-0" and "-0e0" marshal as "-0", distinct from "0"
    assert ref == {"[0, -0]": True, "[0.0, -0.0]": True,
                   "[0, -0e0]": True, "[-0e0, -0.0]": False}
    # SQL path: decimal-typed -0 collapses to 0, so it can neither match
    # the reference's "-0"-vs-"0" distinction ([0,-0] false-dups) nor the
    # "-0e0"-vs-"-0.0" duplication ([-0e0,-0.0] false-distinct); the
    # double-typed pair [0,-0e0] happens to agree
    assert got == {"[0, -0]": False, "[0.0, -0.0]": False,
                   "[0, -0e0]": True, "[-0e0, -0.0]": True}


def _count_calls(v, attr):
    """Wrap the plan callable ``v.<attr>``; returns the list of its calls."""
    calls, plan = [], getattr(v, attr)

    def counted(var):
        calls.append(var)
        return plan(var)

    setattr(v, attr, counted)
    return calls


def test_expressions_built_once_per_validator(spark):
    """A validator emits its Column DAG once, however many DataFrames it
    validates: validate_json, violations_table and MultiSchemaValidator's
    dispatch all reuse the same expressions."""
    from gojsonschema_spark.spark.engine import MultiSchemaValidator

    schema = {"type": "object", "required": ["url"]}
    v = SparkValidator(schema)
    calls = _count_calls(v, "column_plan")
    df = spark.createDataFrame([('{"url": "x"}',), ("{}",)], ["doc"])
    for _ in range(3):
        assert [r.valid for r in v.validate_json(df, "doc").collect()] == [True, False]
        assert [r.keyword for r in
                v.violations_table(df, "doc", []).collect()] == ["required"]
    assert len(calls) == 1

    mv = MultiSchemaValidator({"a": schema, "u": {"uniqueItems": True}})
    assert mv.validators["u"].frontier_plan is not None
    spied = {(k, attr): _count_calls(m, attr)
             for k, m in mv.validators.items()
             for attr in ("column_plan", "frontier_plan")
             if getattr(m, attr) is not None}
    kdf = spark.createDataFrame(
        [("a", "{}"), ("u", "[[1], [1]]"), ("u", "[1, 2]")], ["kind", "doc"])
    for _ in range(2):
        assert [r.valid for r in
                mv.validate_json(kdf, "doc", "kind").collect()] == [False, False, True]
        assert sorted(r.kind for r in
                      mv.violations_table(kdf, "doc", "kind", []).collect()) == ["a", "u"]
    assert {k: len(c) for k, c in spied.items()} == {
        ("a", "column_plan"): 1, ("u", "column_plan"): 1,
        ("u", "frontier_plan"): 1}


@pytest.mark.parametrize("schema,force_udf,path", [
    ({"type": "object", "required": ["url"],
      "properties": {"url": {"type": "string", "format": "uri"},
                     "n": {"type": "integer", "minimum": 0}}}, False, "plain"),
    ({"type": "object",
      "properties": {"tags": {"type": "array", "uniqueItems": True}}},
     False, "hybrid"),
    ({"type": "object", "required": ["url"],
      "properties": {"n": {"type": "integer", "minimum": 0}}}, True, "udf"),
])
def test_validator_reuse_matches_fresh_validator(spark, schema, force_udf, path):
    """One validator applied to two DataFrames (different rows, different
    doc column names) gives the verdicts and violations of a fresh
    validator on each: the shared expressions bind to no input."""
    reused = SparkValidator(schema, force_udf=force_udf)
    assert {"plain": reused.uses_column_plan and reused.frontier_plan is None,
            "hybrid": reused.frontier_plan is not None,
            "udf": not reused.uses_column_plan}[path]
    frames = [
        spark.createDataFrame([
            ("a", '{"url": "http://x.com", "n": 1}'),
            ("b", '{"n": -1, "tags": [{"k": 1}, {"k": 1.0}]}'),
            ("c", "{broken")], ["id", "doc"]),
        spark.createDataFrame([
            ("d", '{"url": "not a uri", "tags": [[1], [2]]}'),
            ("e", '{"url": "http://y.org", "n": "x", "tags": [1, 1]}'),
            ("f", "[]")], ["id", "body"]),
    ]

    def results(v, df, col):
        verdicts = sorted((r.id, r.valid, sorted((x.keyword, x.field)
                                                 for x in r.violations))
                          for r in v.validate_json(df, col).collect())
        table = sorted(tuple(r) for r in
                       v.violations_table(df, col, ["id"]).collect())
        return verdicts, table

    for df, col in zip(frames, ("doc", "body")):
        fresh = SparkValidator(schema, force_udf=force_udf)
        got, want = results(reused, df, col), results(fresh, df, col)
        assert got == want
        assert any(not valid for _, valid, _ in got[0])


_PN_DOCS = ['{}', '{"Infinity": 1}', '{"über": 1}', '{"ab": 1, "abcde": 2}',
            '{"a": {"nested": 1}, "I": 2}', '["ab"]', '"abc"']


@pytest.mark.parametrize("sub,path", [
    ({"type": ["integer", "object"]}, "plain"),
    ({"const": 1}, "plain"),
    ({"enum": ["ab", 1, "Infinity", None]}, "plain"),
    ({"anyOf": [{"maxLength": 1}, {"pattern": "^I"}]}, "plain"),
    ({"oneOf": [{"minLength": 2}, {"pattern": "b$"}]}, "plain"),
    ({"not": {"const": "ab"}}, "plain"),
    ({"if": {"minLength": 3}, "then": {"pattern": "^[IÜü]"},
      "else": {"maxLength": 1}}, "plain"),
    ({"minLength": 2, "maxLength": 4}, "plain"),
    ({"format": "hostname"}, "plain"),
    ({"format": "email"}, "hybrid"),
    ({"format": "short"}, "hybrid"),
    # no Java twin for the regex: any object with a key goes to the interpreter
    ({"pattern": "(?m)^a"}, "hybrid"),
    # a cycle can only close through object/array keywords, which never
    # apply to a key: its unroll frontier is unreachable from a key
    ({"$ref": "#/definitions/k"}, None),
], ids=["type", "const", "enum", "anyOf", "oneOf", "not", "if", "length",
        "hostname", "email", "custom", "java_divergent_regex", "cyclic_ref"])
def test_property_names_lowering_matches_interpreter(spark, sub, path):
    """propertyNames lowers each key, cast to a string variant, through
    the same walk as any other subschema: verdicts equal the interpreter's
    on keys that render like overflowed numbers ("Infinity"), non-ASCII
    keys, empty objects and non-objects; UDF and custom formats and
    regexes without a Java twin go hybrid."""
    from gojsonschema_spark.core.compiler import SchemaCompiler
    from gojsonschema_spark.core.formats import FormatRegistry

    reg = FormatRegistry().add(
        "short", lambda v: not isinstance(v, str) or len(v) < 3)
    schema = {"$schema": "http://json-schema.org/draft-07/schema#",
              "definitions": {"k": {"anyOf": [
                  {"maxLength": 2},
                  {"pattern": "^I", "propertyNames": {"$ref": "#/definitions/k"}}]}},
              "propertyNames": sub}
    v = SparkValidator(schema, compiler=SchemaCompiler(formats=reg))
    assert v.uses_column_plan, v.unsupported_reason
    if path is not None:
        assert (v.frontier_plan is not None) == (path == "hybrid")
    u = SparkValidator(schema, compiler=SchemaCompiler(formats=reg),
                       force_udf=True)
    df = spark.createDataFrame([(d,) for d in _PN_DOCS], ["doc"])
    got = [r.valid for r in v.validate_json(df, "doc").collect()]
    want = [r.valid for r in u.validate_json(df, "doc").collect()]
    assert got == want
    assert not all(want)


def test_shared_subschema_detector_fires_only_where_optimistic(spark):
    """A subschema shared by an exact position (property ``a``, where the
    email UDF runs) and an optimistic one (``items``, inside a HOF lambda)
    flags only the optimistic position: the detector is built where each
    predicate is, not keyed by the shared node."""
    schema = {"definitions": {"e": {"format": "email"}},
              "properties": {"a": {"$ref": "#/definitions/e"}},
              "items": {"$ref": "#/definitions/e"}}
    v = SparkValidator(schema)
    assert v.uses_column_plan and v.frontier_plan is not None
    docs = ['{"a":"x@y.z"}', '{"a":"nope"}', '["x@y.z"]', '["nope"]', '[1]',
            '{"b":1}']
    df = spark.createDataFrame([(d,) for d in docs], ["doc"])
    deep = [r.d for r in df.select(
        v.frontier_plan(F.try_parse_json("doc")).alias("d")).collect()]
    assert deep == [False, False, True, True, False, False]
    got = [r.valid for r in v.validate_json(df, "doc").collect()]
    u = SparkValidator(schema, force_udf=True)
    assert got == [r.valid for r in u.validate_json(df, "doc").collect()]
    assert got == [True, False, True, False, True, True]


def test_property_names_node_cap_propagates():
    """The node cap inside propertyNames is not the interpreter routing of
    an inexpressible key schema: it reaches SparkValidator, which retries
    at a shallower unroll."""
    from gojsonschema_spark.core.compiler import SchemaCompiler
    from gojsonschema_spark.spark.columns import (ColumnPlanCompiler,
                                                  UnsupportedSchema)

    compiled = SchemaCompiler().compile(
        {"propertyNames": {"allOf": [{"maxLength": n} for n in range(10)]}})
    with pytest.raises(UnsupportedSchema, match="exceeds"):
        ColumnPlanCompiler(compiled, max_nodes=5).compile()
    assert ColumnPlanCompiler(compiled).compile() is not None
