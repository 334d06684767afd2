"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship schema validation over sf0.001 documents.
``queries()`` — one entry per implemented operator (SURVEY.md §2 keywords
via the real SparkValidator engine + dataset-level ops from §2.7 and the
training-data pipeline ops).
``oracle_sql()`` — independent ANSI-SQL formulations for DuckDB.

Spark queries run the actual engine (column plan or UDF fallback); the
oracles re-derive expected results from the plain parquet columns, so a
mismatch means a real engine bug, not a mirrored one.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, functions as F

from gojsonschema_spark.spark.engine import SparkValidator
from gojsonschema_spark.ops import dataset_checks as dc
from gojsonschema_spark.ops import dedup as dd
from gojsonschema_spark.ops import text as tx
from gojsonschema_spark.ops import similarity as sim


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship: perturbed documents -> JSON docs -> engine verdicts
# ---------------------------------------------------------------------------

FLAGSHIP_DOC_SCHEMA = {
    "$schema": "http://json-schema.org/draft-07/schema#",
    "type": "object",
    "required": ["doc_id", "lang", "text", "n_chars"],
    "properties": {
        "doc_id": {"type": "integer", "minimum": 0},
        "lang": {"type": "string", "pattern": "^[a-z]{2}$"},
        "n_chars": {"type": "integer", "minimum": 1},
        "text": {"type": "string", "minLength": 1},
        "source": {"type": "string", "pattern": "^src[0-9]+$"},
    },
}


def _flagship_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministically perturb documents so verdicts vary:
    doc_id%7==0 -> lang uppercased (pattern fails);
    doc_id%11==0 -> n_chars negated (minimum fails);
    doc_id%13==0 -> text dropped (required fails)."""
    d = _t(spark, sf_dir, "documents")
    doc = F.to_json(F.struct(
        F.col("doc_id"),
        F.when(F.col("doc_id") % 7 == 0, F.upper("lang")).otherwise(F.col("lang")).alias("lang"),
        F.when(F.col("doc_id") % 11 == 0, -F.col("n_chars")).otherwise(F.col("n_chars")).alias("n_chars"),
        F.when(F.col("doc_id") % 13 == 0, F.lit(None)).otherwise(F.col("text")).alias("text"),
        F.col("source"),
    ))
    return d.select("doc_id", doc.alias("doc"))


def q_validate_flagship(spark, sf_dir):
    docs = _flagship_docs(spark, sf_dir)
    v = SparkValidator(FLAGSHIP_DOC_SCHEMA)
    return (v.validate_json(docs, "doc", violations_col=None)
            .select("doc_id", "valid"))


def q_violations_by_keyword(spark, sf_dir):
    docs = _flagship_docs(spark, sf_dir)
    v = SparkValidator(FLAGSHIP_DOC_SCHEMA)
    return (v.violations_table(docs, "doc", ["doc_id"])
            .groupBy("keyword").agg(F.count(F.lit(1)).alias("n")))


def q_validate_events_props(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    v = SparkValidator({"type": "object", "required": ["k"],
                        "properties": {"k": {"type": "integer",
                                             "minimum": 5, "maximum": 90}}})
    return (v.validate_json(e, "props", violations_col=None)
            .select("event_id", "valid"))


# ---------------------------------------------------------------------------
# per-keyword micro-queries (each drives the real validator)
# ---------------------------------------------------------------------------

def _kw_query(schema: dict, doc_col):
    def run(spark, sf_dir):
        d = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang",
                                                  "n_chars", "source")
        docs = d.select("doc_id", doc_col().alias("doc"))
        v = SparkValidator(schema)
        return (v.validate_json(docs, "doc", violations_col=None)
                .select("doc_id", "valid"))
    return run


q_kw_type_union = _kw_query(
    {"properties": {"v": {"type": ["integer", "null"]}}},
    lambda: F.concat(F.lit('{"v": '),
                     F.when(F.col("doc_id") % 3 == 0, F.lit("1"))
                      .when(F.col("doc_id") % 3 == 1, F.lit('"s"'))
                      .otherwise(F.lit("null")),
                     F.lit("}")))

q_kw_anyof = _kw_query(
    {"anyOf": [
        {"type": "object", "properties": {"n": {"minimum": 300}}, "required": ["n"]},
        {"type": "object", "properties": {"l": {"const": "en"}}, "required": ["l"]}]},
    lambda: F.to_json(F.struct(F.col("n_chars").alias("n"), F.col("lang").alias("l"))))

q_kw_oneof = _kw_query(
    {"oneOf": [
        {"type": "object", "properties": {"n": {"multipleOf": 2}}, "required": ["n"]},
        {"type": "object", "properties": {"n": {"multipleOf": 3}}, "required": ["n"]}]},
    lambda: F.to_json(F.struct(F.col("n_chars").alias("n"))))

q_kw_items_unique = _kw_query(
    # typed items -> scalar-guaranteed uniqueItems stays on the SQL column
    # plan; doc_id%6==0 rows repeat the value in a different lexical form
    # (157 vs 157.0) to exercise canonical numeric equality
    {"properties": {"a": {"items": {"type": "integer", "minimum": 100},
                          "uniqueItems": True}}},
    lambda: F.concat(
        F.lit('{"a": ['), F.col("n_chars"), F.lit(", "),
        F.when(F.col("doc_id") % 6 == 0,
               F.concat(F.col("n_chars").cast("string"), F.lit(".0")))
         .otherwise((F.col("n_chars") + 1).cast("string")),
        F.lit("]}")))

q_kw_dependencies = _kw_query(
    {"dependencies": {"a": ["b"]}},
    lambda: F.concat(
        F.lit("{"),
        F.when(F.col("doc_id") % 2 == 0, F.lit('"a": 1, ')).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 3 == 0, F.lit('"b": 1, ')).otherwise(F.lit("")),
        F.lit('"z": 0}')))

q_kw_if_then_else = _kw_query(
    {"$schema": "http://json-schema.org/draft-07/schema#",
     "if": {"properties": {"l": {"const": "en"}}, "required": ["l"]},
     "then": {"properties": {"n": {"minimum": 200}}, "required": ["n"]},
     "else": {"properties": {"n": {"maximum": 400}}, "required": ["n"]}},
    lambda: F.to_json(F.struct(F.col("lang").alias("l"), F.col("n_chars").alias("n"))))

q_kw_allof = _kw_query(
    {"allOf": [
        {"type": "object", "properties": {"n": {"minimum": 100}}, "required": ["n"]},
        {"type": "object", "properties": {"n": {"multipleOf": 2}}}]},
    lambda: F.to_json(F.struct(F.col("n_chars").alias("n"))))

q_kw_not = _kw_query(
    {"not": {"properties": {"l": {"const": "en"}}, "required": ["l"]}},
    lambda: F.to_json(F.struct(F.col("lang").alias("l"))))

q_kw_ref = _kw_query(
    # acyclic $ref: inlined into the pure-SQL column plan
    {"definitions": {"posbig": {"type": "integer", "minimum": 100}},
     "properties": {"n": {"$ref": "#/definitions/posbig"}}},
    lambda: F.to_json(F.struct(F.col("n_chars").alias("n"))))

q_kw_ref_cyclic = _kw_query(
    # self-recursive linked-list schema: exercises the cyclic-$ref path
    {"definitions": {"node": {
        "type": "object", "required": ["v"],
        "properties": {"v": {"type": "integer"},
                       "next": {"$ref": "#/definitions/node"}}}},
     "$ref": "#/definitions/node"},
    lambda: F.concat(
        F.lit('{"v": 1, "next": {"v": '),
        F.when(F.col("doc_id") % 3 == 0, F.lit('"x"')).otherwise(F.lit("2")),
        F.lit("}}")))

q_kw_pattern_properties = _kw_query(
    {"patternProperties": {"^s": {"type": "string"}}},
    lambda: F.concat(
        F.lit('{"s1": '),
        F.when(F.col("doc_id") % 2 == 0, F.lit("1")).otherwise(F.lit('"a"')),
        F.lit(', "other": 0}')))

q_kw_additional_properties = _kw_query(
    {"properties": {"a": {}}, "additionalProperties": False},
    lambda: F.concat(
        F.lit('{"a": 1'),
        F.when(F.col("doc_id") % 2 == 0, F.lit(', "b": 2')).otherwise(F.lit("")),
        F.lit("}")))

q_kw_property_names = _kw_query(
    {"$schema": "http://json-schema.org/draft-07/schema#",
     "propertyNames": {"maxLength": 3}},
    lambda: F.concat(
        F.lit('{"ab": 1'),
        F.when(F.col("doc_id") % 2 == 0, F.lit(', "abcd": 2')).otherwise(F.lit("")),
        F.lit("}")))

q_kw_contains = _kw_query(
    {"$schema": "http://json-schema.org/draft-06/schema#",
     "properties": {"a": {"contains": {"minimum": 300}}}, "required": ["a"]},
    lambda: F.concat(F.lit('{"a": [1, '), F.col("n_chars"), F.lit("]}")))

q_kw_min_max_items = _kw_query(
    {"properties": {"a": {"minItems": 2, "maxItems": 3}}, "required": ["a"]},
    lambda: F.concat(
        F.lit('{"a": ['),
        F.concat_ws(", ", F.transform(
            F.sequence(F.lit(1), (F.col("doc_id") % 4) + 1),
            lambda i: i.cast("string"))),
        F.lit("]}")))

q_kw_min_max_properties = _kw_query(
    {"minProperties": 2, "maxProperties": 3},
    lambda: F.concat(
        F.lit('{"k1": 1'),
        F.when(F.col("doc_id") % 4 >= 1, F.lit(', "k2": 2')).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 >= 2, F.lit(', "k3": 3')).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 >= 3, F.lit(', "k4": 4')).otherwise(F.lit("")),
        F.lit("}")))

q_kw_additional_items = _kw_query(
    {"properties": {"a": {"items": [{"type": "integer"}],
                          "additionalItems": {"type": "string"}}},
     "required": ["a"]},
    lambda: F.concat(
        F.lit('{"a": [1, '),
        F.when(F.col("doc_id") % 2 == 0, F.lit("2")).otherwise(F.lit('"x"')),
        F.lit("]}")))


def _bundle_query(cases: dict):
    """Multi-keyword bundle: ONE driver row carrying one `valid_<name>`
    column per (schema, doc) case — each keyword stays individually
    decidable (its own column, its own doc_id residue) while consuming a
    single slot of the driver's query budget. Each case runs the real
    SparkValidator (column plan or hybrid) over its own doc column."""
    def run(spark, sf_dir):
        d = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang",
                                                  "n_chars", "source")
        df = d.select("doc_id",
                      *[fn().alias(f"__doc_{name}")
                        for name, (schema, fn) in cases.items()])
        for name, (schema, _) in cases.items():
            v = SparkValidator(schema)
            df = v.validate_json(df, f"__doc_{name}",
                                 valid_col=f"valid_{name}",
                                 violations_col=None)
        return df.select("doc_id", *[f"valid_{n}" for n in cases])
    return run


def _fmt_case(fmt: str, good: str, bad: str, mod: int):
    """format-keyword bundle case: doc_id % mod == 0 rows carry the bad
    literal, so each format's column has a distinct verdict pattern."""
    schema = {"properties": {"x": {"format": fmt}}, "required": ["x"]}
    doc = lambda: F.to_json(F.struct(
        F.when(F.col("doc_id") % mod == 0, F.lit(bad))
         .otherwise(F.lit(good)).alias("x")))
    return schema, doc


def q_kw_format_custom(spark, sf_dir):
    """User-registered format checker (FormatCheckers.Add parity,
    reference format_checkers.go:147-173): verdicts must honor the custom
    registry on the column plan, not silently pass as 'unknown format'."""
    from gojsonschema_spark.core.compiler import SchemaCompiler
    from gojsonschema_spark.core.formats import FormatRegistry

    def even_length(v):
        return len(v) % 2 == 0 if isinstance(v, str) else True

    reg = FormatRegistry().add("even-length", even_length)
    d = _t(spark, sf_dir, "documents")
    docs = d.select("doc_id", F.to_json(F.struct(F.col("source").alias("x")))
                    .alias("doc"))
    v = SparkValidator({"properties": {"x": {"format": "even-length"}},
                        "required": ["x"]},
                       compiler=SchemaCompiler(formats=reg))
    return (v.validate_json(docs, "doc", violations_col=None)
            .select("doc_id", "valid"))


# good/bad verdicts verified against core.formats (Go parser emulation);
# grouped into three bundles (net parsers / URI family / token grammars)
# so all 17 builtin formats fit the driver's query budget, each with its
# own valid_* column and doc_id residue
_FMT_NET = {
    "email": ("joe@example.com", "joe@@example.com", 3),
    "idn_email": ("joe@example.org", "no-at-sign", 4),
    "ipv4": ("192.168.0.1", "256.1.1.1", 5),
    "ipv6": ("::1", "12345::", 6),
    "hostname": ("example.com", "_bad.example.com", 7),
}
_FMT_URIS = {
    "uri": ("https://example.com/path?q=1", "relative/path", 3),
    "uri_reference": ("/relative/path", "http://exa mple.com", 4),
    "iri": ("https://example.com/umlaut", "no-scheme-here", 5),
    "iri_reference": ("/path/ok", "http://exa mple.com", 6),
    "uri_template": ("http://example.com/dictionary/{term:1}/{term}",
                     "http://example.com/dictionary/{term:1}/{term", 7),
}
_FMT_TOKENS = {
    "uuid": ("2eb8aa08-aa98-11ea-b4aa-73b441d16380",
             "2eb8aa08-aa98-11ea-b4aa-73b441d1638", 3),
    "regex": ("^a+$", "a(b", 4),
    "date": ("2020-06-15", "2020-13-01", 5),
    "time": ("08:30:06Z", "08:30:61Z", 6),
    "date_time": ("2018-11-13T20:20:39+00:00", "2018-11-13T99:20:39Z", 7),
    "json_pointer": ("/foo/0", "/foo/~2", 8),
    "relative_json_pointer": ("1/foo", "/foo", 9),
}


def _fmt_bundle(group: dict):
    return _bundle_query({
        name: _fmt_case(name.replace("_", "-"), good, bad, mod)
        for name, (good, bad, mod) in group.items()})


def _fmt_bundle_oracle(group: dict) -> str:
    cols = ", ".join(f"doc_id % {mod} <> 0 AS valid_{name}"
                     for name, (_, _, mod) in group.items())
    return f"SELECT doc_id, {cols} FROM documents"


q_kw_format_net = _fmt_bundle(_FMT_NET)
q_kw_format_uris = _fmt_bundle(_FMT_URIS)
q_kw_format_tokens = _fmt_bundle(_FMT_TOKENS)

# the five scalar keywords, bundled the same way (schemas unchanged from
# the round-2 micro-queries kw_const/kw_enum/kw_bounds/kw_multipleof/
# kw_length — only the packaging is merged)
q_kw_scalars = _bundle_query({
    "const": ({"properties": {"l": {"const": "en"}}, "required": ["l"]},
              lambda: F.to_json(F.struct(F.col("lang").alias("l")))),
    "enum": ({"type": "object", "required": ["lang"],
              "properties": {"lang": {"enum": ["en", "de", "fr"]}}},
             lambda: F.to_json(F.struct(F.col("lang")))),
    "bounds": ({"properties": {"n": {"exclusiveMinimum": 100,
                                     "exclusiveMaximum": 400}}},
               lambda: F.to_json(F.struct(F.col("n_chars").alias("n")))),
    "multipleof": ({"properties": {"n": {"multipleOf": 3}}},
                   lambda: F.to_json(F.struct(F.col("n_chars").alias("n")))),
    "length": ({"properties": {"t": {"minLength": 50, "maxLength": 300}}},
               lambda: F.to_json(F.struct(F.col("text").alias("t")))),
})


# ---------------------------------------------------------------------------
# dataset-level checks (SURVEY.md §2.7 / north_star)
# ---------------------------------------------------------------------------

def q_column_profile_n_chars(spark, sf_dir):
    """Per-column stats + exact percentiles in one row (column_stats and
    numeric_percentiles, merged since r3 to free a driver-gate slot)."""
    d = _t(spark, sf_dir, "documents")
    return (dc.column_stats(d, "n_chars")
            .join(dc.numeric_percentiles(d, "n_chars")))


def q_uniqueness_events_user(spark, sf_dir):
    return dc.uniqueness_ratio(_t(spark, sf_dir, "events"), "user_id",
                               approximate=False)


def q_referential_orphans(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    dim = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 7 == 0)
    orphans = dc.referential_orphans(events, "user_id", dim, "c_custkey")
    return (orphans.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_orphans")))


def q_drift_lang_kl(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    half = d.agg(F.max("doc_id")).collect()[0][0] // 2
    return dc.categorical_drift_kl(d.filter(F.col("doc_id") <= half),
                                   d.filter(F.col("doc_id") > half), "lang")


def q_drift_nchars_hist(spark, sf_dir):
    """KL drift over a NUMERIC column via fixed-width histogram buckets."""
    d = _t(spark, sf_dir, "documents")
    half = d.agg(F.max("doc_id")).collect()[0][0] // 2
    return dc.histogram_drift_kl(d.filter(F.col("doc_id") <= half),
                                 d.filter(F.col("doc_id") > half),
                                 "n_chars", bucket_width=100.0)


def q_lang_id(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", tx.language_id(F.col("text")).alias("lang_guess"))


# ---------------------------------------------------------------------------
# training-data pipeline ops
# ---------------------------------------------------------------------------

def _dup_corpus(spark, sf_dir):
    """documents + re-keyed copies of every 10th doc (guaranteed dups)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = (d.filter(F.col("doc_id") % 10 == 0)
             .select((F.col("doc_id") + 1000000).alias("doc_id"), "text"))
    return d.unionAll(dups)


def q_dedup_exact(spark, sf_dir):
    return (dd.exact_duplicates(_dup_corpus(spark, sf_dir), max_members=0)
              .select("fp", "n_dups"))


def q_text_token_count(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", tx.token_count(d))


def q_text_quality(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return tx.quality_score(d).select("doc_id", "n_tokens", "stop_ratio",
                                      "mean_tok_len")


def q_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", tx.fingerprint(F.col("text")).alias("fp"))


def q_ann_cosine_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in
            e.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]]
    return sim.brute_force_topk(e, qvec, k=10)


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN with n_probe == n_centroids (exhaustive probing): the
    result must equal exact cosine top-k, so the brute-force SQL is a
    true oracle for the whole IVF pipeline (train -> assign -> probe)."""
    e = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in
            e.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]]
    cents = sim.ivf_train(e, n_centroids=8, iters=1)
    return sim.ivf_topk(e, cents, qvec, k=10, n_probe=8)


def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs (exact op; the LSH-bucketed scale
    path is recall-gated in tests/test_ops.py). Corpus = embeddings plus
    scalar-perturbed copies of every 20th vector — a positive scalar
    multiple has cosine exactly 1, so the planted pairs are the near-dups
    (max cosine between distinct base vectors at this SF is 0.51)."""
    e = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    dups = (e.filter(F.col("vec_id") % 20 == 0)
             .select((F.col("vec_id") + 1000000).alias("vec_id"),
                     F.transform(v, lambda x: x * 1.001).alias("embedding")))
    corpus = e.select("vec_id", v.alias("embedding")).unionAll(dups)
    return dd.embedding_near_dups(corpus, threshold=0.99)


def q_minhash_lsh_pairs(spark, sf_dir):
    """Full MinHash->banded-LSH->exact-verify dedup pipeline, now with a
    true equality oracle: at similarity threshold 1.0 banded LSH has
    recall 1.0 by construction (byte-identical texts hash to identical
    signatures, so they collide in EVERY band), and the exact n-gram
    Jaccard verifier drops the near-dup candidates the bands also surface
    (measured at this corpus: 31 extra candidates at Jaccard 0.90-0.99 on
    top of the 50 planted dups — the verify stage is load-bearing).
    DuckDB derives the expected pair set from md5(normalized_text)
    groups. xxhash64 itself stays pinned by the bit-exact pure-Python
    pipeline oracle in tests/test_minhash_reference.py."""
    corpus = _dup_corpus(spark, sf_dir)
    cand = dd.minhash_lsh_pairs(corpus, num_hashes=32, bands=8)
    return (dd.ngram_jaccard_pairs(corpus, cand, threshold=1.0)
            .select("key_a", "key_b"))


def q_simhash(spark, sf_dir):
    """SimHash dedup with the same equality-oracle trick: 64-bit SimHash
    signatures of byte-identical texts are identical, so signature-equal
    candidate pairs verified at exact Jaccard 1.0 must equal the
    md5-group pair set (a wrong simhash drops planted pairs -> red row).
    The 5 signature-collision near-dups this corpus produces at 64 bits
    are filtered by the verifier."""
    corpus = _dup_corpus(spark, sf_dir)
    sh = corpus.select("doc_id", dd.simhash(F.col("text"), bits=64).alias("sh"))
    cand = (sh.alias("a").join(sh.alias("b"), F.col("a.sh") == F.col("b.sh"))
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("key_a"),
                    F.col("b.doc_id").alias("key_b")))
    return (dd.ngram_jaccard_pairs(corpus, cand, threshold=1.0)
            .select("key_a", "key_b"))


# ---------------------------------------------------------------------------
# analytics over the TPC-H-ish tables (aggregation / join / window / rollup
# breadth of the engine-adjacent dataset operators)
# ---------------------------------------------------------------------------

def q_agg_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style pricing summary; money summed as DECIMAL (exact,
    order-independent), then rendered as round(double, 2) so the driver's
    value hash is stable across Spark/DuckDB decimal string forms."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,4)")
    rnd = lambda c, n: F.round(c.cast("double"), 2).alias(n)
    return (li.filter(F.col("l_shipdate") < F.lit("1998-09-01"))
              .groupBy("l_returnflag", "l_linestatus")
              .agg(F.sum(dec("l_quantity")).alias("_q"),
                   F.sum(dec("l_extendedprice")).alias("_bp"),
                   F.sum((dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount")))
                         .cast("decimal(28,8)")).alias("_dp"),
                   F.count(F.lit(1)).alias("count_order"))
              .select("l_returnflag", "l_linestatus",
                      rnd(F.col("_q"), "sum_qty"),
                      rnd(F.col("_bp"), "sum_base_price"),
                      rnd(F.col("_dp"), "sum_disc_price"),
                      "count_order")
              .orderBy("l_returnflag", "l_linestatus"))


def q_join_top_orders(spark, sf_dir):
    """Revenue top-10 orders for a market segment (TPC-H Q3 shape):
    broadcast the small dimension, shuffle-join the facts."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,4)")
    rev = (li.join(orders, li.l_orderkey == orders.o_orderkey)
             .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
             .groupBy("l_orderkey")
             .agg(F.sum((dec("l_extendedprice") *
                         (F.lit(1).cast("decimal(18,4)") - dec("l_discount")))
                        .cast("decimal(28,8)")).alias("_rev")))
    return (rev.orderBy(F.col("_rev").desc(), F.col("l_orderkey")).limit(10)
               .select("l_orderkey",
                       F.round(F.col("_rev").cast("double"), 2).alias("revenue")))


def q_window_user_gaps(spark, sf_dir):
    """Per-user mean inter-event gap in seconds (window/lag operator)."""
    from pyspark.sql import Window as W
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # fractional epoch seconds (matches DuckDB epoch()); TIMESTAMP_NTZ
    # needs an explicit timestamp hop before the numeric cast
    def epochs(c):
        return c.cast("timestamp").cast("double")
    gap = epochs(F.col("ts")) - epochs(F.lag("ts").over(w))
    return (e.select("user_id", gap.alias("gap"))
             .groupBy("user_id")
             .agg(F.round(F.avg("gap"), 6).alias("avg_gap_sec"),
                  F.count("gap").alias("n_gaps")))


def q_rollup_hourly_events(spark, sf_dir):
    """Time-bucketed rollup (streaming-style aggregation in batch)."""
    e = _t(spark, sf_dir, "events")
    return (e.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.round(F.sum("value"), 6).alias("sum_value")))


# ---------------------------------------------------------------------------
# round-3 additions: variant entry point, batch sessionization, persisted
# ANN index, bucketed join, salted aggregation, multimodal features
# ---------------------------------------------------------------------------

def q_validate_variant(spark, sf_dir):
    """validate_variant / valid_column entry point: the document is parsed
    to VARIANT upstream (as a pipeline would persist it) and the validator
    runs its pure-SQL plan over the existing variant column — no re-parse
    (engine.py:129-132)."""
    docs = _flagship_docs(spark, sf_dir)
    v = SparkValidator(FLAGSHIP_DOC_SCHEMA)
    var = docs.select("doc_id", F.parse_json("doc").alias("var"))
    return v.validate_variant(var, "var").select("doc_id", "valid")


def q_sessionize_events(spark, sf_dir):
    """Batch sessionization (spark/streaming.py sessionize_batch: a gap
    of more than 1800 s starts a new session; its boundary cases are
    pinned in tests/test_streaming.py).

    Driver-row rendering: session bounds as TZ-free ISO strings
    (date_format over TIMESTAMP_NTZ needs no session-timezone hop) and
    session_id as explicit bigint — DuckDB's window SUM yields HUGEINT,
    which pandas canonicalizers coerce to float64 and hash differently
    from Spark's int64 (the r3 hash_match=false)."""
    from gojsonschema_spark.spark.streaming import sessionize_batch
    e = _t(spark, sf_dir, "events")
    s = sessionize_batch(e, "user_id", "ts", gap_sec=1800.0,
                         tiebreak_col="event_id")
    iso = lambda c: F.date_format(F.col(c), "yyyy-MM-dd HH:mm:ss.SSSSSS")
    return s.select("user_id",
                    F.col("session_id").cast("long").alias("session_id"),
                    iso("session_start").alias("session_start"),
                    iso("session_end").alias("session_end"),
                    "n_events")


def q_ann_ivf_pruned(spark, sf_dir):
    """IVF ANN through the PERSISTED index: assignments written once as a
    partition column, probe = partition-pruned read (pruning plan-gated in
    tests/test_ops.py). n_probe == n_centroids here so brute-force cosine
    is an exact oracle for the whole build->persist->probe pipeline."""
    import tempfile
    e = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in
            e.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]]
    cents = sim.ivf_train(e, n_centroids=8, iters=1)
    idx = tempfile.mkdtemp(prefix="gjs_ivf_") + "/index"
    sim.ivf_build_index(e, cents, idx)
    return sim.ivf_probe_topk(spark, idx, cents, qvec, k=10, n_probe=8)


def q_bucketed_join_agg(spark, sf_dir):
    """Co-bucketed fact-to-fact join (shuffle-free, ops/bucketing.py):
    orders x customer bucketed by custkey; revenue per customer."""
    from gojsonschema_spark.ops import bucketing as bk
    dec = lambda c: F.col(c).cast("decimal(18,4)")
    orders = (_t(spark, sf_dir, "orders")
              .select(F.col("o_custkey").alias("custkey"), "o_totalprice"))
    cust = (_t(spark, sf_dir, "customer")
            .select(F.col("c_custkey").alias("custkey"), "c_mktsegment"))
    bk.write_bucketed(orders, "gjs_orders_bkt", "custkey", n_buckets=8)
    bk.write_bucketed(cust, "gjs_cust_bkt", "custkey", n_buckets=8)
    j = bk.bucketed_join(spark, "gjs_orders_bkt", "gjs_cust_bkt", "custkey")
    return (j.groupBy("custkey", "c_mktsegment")
             .agg(F.count(F.lit(1)).alias("n_orders"),
                  F.round(F.sum(dec("o_totalprice")).cast("double"), 2)
                   .alias("sum_total")))


def q_skew_salted_counts(spark, sf_dir):
    """Explicit two-stage salted aggregation (ops/skew.py) — same counts
    as a plain groupBy, shuffle spread across salt lanes."""
    from gojsonschema_spark.ops import skew
    d = _t(spark, sf_dir, "documents")
    return skew.salted_counts(d, "lang", n_salts=16)


def q_multimodal_features(spark, sf_dir):
    """Multimodal plumbing end-to-end: binary payload -> Arrow mapInPandas
    feature extraction (deterministic md5 stub codec — container ships no
    image libs). Output recovers the exact digest bytes so DuckDB can
    mirror the full pipeline."""
    from gojsonschema_spark.ops import multimodal as mm
    d = (_t(spark, sf_dir, "documents")
         .select(F.col("doc_id").cast("string").alias("key"),
                 F.encode("text", "UTF-8").alias("payload")))
    feats = mm.extract_features(d)
    # scalar rendering: the driver's pandas canonicalizer cannot sort/hash
    # an array<int> column (r3 err) — join the recovered digest bytes into
    # one CSV string; DuckDB mirrors with array_to_string
    return feats.select(
        "key",
        F.concat_ws(",", F.transform(
            "feature",
            lambda x: F.round(x * 255).cast("int").cast("string")))
         .alias("feature_csv"),
        "n_bytes")


def q_dup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus paragraph dedup (ops/dedup.py::duplicate_paragraphs).

    documents.text is single-line, so synthesize a two-paragraph body:
    the 5-word prefix (which genuinely collides across docs) plus the
    full text."""
    from gojsonschema_spark.ops.dedup import duplicate_paragraphs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    two_para = docs.withColumn(
        "body",
        F.concat(F.array_join(F.slice(F.split(F.col("text"), " "), 1, 5), " "),
                 F.lit("\n\n"), F.col("text")))
    return (duplicate_paragraphs(two_para, text_col="body", key_col="doc_id")
            .select("fp", "n_dups", "n_docs"))


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition fractions (ops/text.py::repetition_metrics).

    documents.text is single-line; word-per-line form makes the
    duplicate-line fractions a real signal (repeated-word mass)."""
    from gojsonschema_spark.ops.text import repetition_metrics

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id",
                    F.replace(F.lower(F.col("text")), F.lit(" "),
                              F.lit("\n")).alias("text")))
    return (repetition_metrics(docs)
            .select("doc_id", "dup_line_frac", "dup_line_char_frac",
                    "top_bigram_char_frac"))


def q_repetition_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized Gopher repetition fractions (r4): top-3-gram and
    duplicated-5-gram character masses over the word-per-line rendering;
    DuckDB re-derives both from list lambdas (int-ratio doubles, exact)."""
    from gojsonschema_spark.ops.text import repetition_metrics

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id",
                    F.replace(F.lower(F.col("text")), F.lit(" "),
                              F.lit("\n")).alias("text")))
    return (repetition_metrics(docs, ngram_tops=(3,), ngram_dups=(5,))
            .select("doc_id", "top_3gram_char_frac", "dup_5gram_char_frac"))


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (ops/dedup.py::contamination_check):
    13-gram overlap of every document against the doc_id<10 'benchmark'
    slice (each benchmark doc flags itself; any true cross-doc overlap
    would appear identically in the oracle)."""
    from gojsonschema_spark.ops.dedup import contamination_check

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") < 10)
    return contamination_check(docs, bench, text_col="text",
                               key_col="doc_id", bench_text_col="text")


def q_semi_anti_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti-join breadth (TPC-H Q4 shape adapted to this subset's
    columns): per order priority, how many orders have at least one
    RETURNED lineitem (left_semi) vs none (left_anti). Spark plans both
    probes against one distinct-orderkey dim; the oracle mirrors with
    EXISTS / NOT EXISTS."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    returned = (li.filter(F.col("l_returnflag") == "R")
                .select(F.col("l_orderkey").alias("o_orderkey")).distinct())
    semi = (orders.join(returned, "o_orderkey", "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_with_returns")))
    anti = (orders.join(returned, "o_orderkey", "left_anti")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_without")))
    return (semi.join(anti, "o_orderpriority", "full_outer")
            .fillna(0, ["n_with_returns", "n_without"]))


def q_frequent_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k heavy hitters (ops/dataset_checks.py::frequent_items) over
    the events type column; deterministic tiebreak makes the exact top-k
    oracle-able."""
    return dc.frequent_items(_t(spark, sf_dir, "events"), "event_type", k=5)


def q_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite Gopher-rule quality gate (ops/text.py::
    gopher_quality_filter) over the word-per-line rendering (documents
    text is single-line; word-per-line gives the line-based rules real
    signal while leaving every token-based rule unchanged, since \\s+
    tokenization treats blank and newline alike). All rule inputs are
    integer-ratio doubles, so DuckDB reproduces the bits exactly."""
    from gojsonschema_spark.ops.text import gopher_quality_filter

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id",
                    F.replace(F.lower(F.col("text")), F.lit(" "),
                              F.lit("\n")).alias("text")))
    # stopword list localized to the synthetic corpus vocabulary (the op's
    # stopwords= override, as a non-English corpus would) so the
    # stopword bit — and hence keep — actually varies
    return (gopher_quality_filter(docs, min_words=20, min_stop_hits=3,
                                  stopwords=("join", "hash", "row",
                                             "batch", "scan"))
            .select("doc_id", "ok_word_count", "ok_mean_word_len",
                    "ok_symbol_ratio", "ok_stopwords", "ok_dup_lines",
                    "ok_top_bigram", "keep"))


def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting (ops/text.py::token_count_bpe): one native
    regexp_count pass; the oracle re-derives the count with DuckDB's
    regexp_extract_all over the same public GPT-2-style pattern."""
    from gojsonschema_spark.ops.text import token_count_bpe

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", token_count_bpe(docs))


_INCREMENTAL_ORACLE = r"""
    WITH old AS (
      SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      FROM documents WHERE doc_id % 2 = 0
    ),
    new AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 10 = 1
    ),
    fps AS (
      SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      FROM new
    )
    SELECT f.doc_id FROM fps f
    WHERE f.fp NOT IN (SELECT fp FROM old)
      AND f.doc_id = (SELECT min(doc_id) FROM fps f2 WHERE f2.fp = f.fp)
"""


def _incremental_slices(spark: SparkSession, sf_dir: str):
    """Old/new corpus split for the day-2 incremental dedup rows: the
    even-keyed half is the PRIOR run (only its store artifact is used);
    the new crawl = the odd half + re-keyed copies of even docs (pure
    cross-run duplicates — every one must drop) + re-keyed copies of odd
    docs (within-batch duplicates — the original min key survives)."""
    d = (spark.read.parquet(f"{sf_dir}/documents.parquet")
         .select("doc_id", "text"))
    old = d.filter(F.col("doc_id") % 2 == 0)
    new = (d.filter(F.col("doc_id") % 2 == 1)
           .unionAll(d.filter(F.col("doc_id") % 10 == 0)
                     .select((F.col("doc_id") + 1000000).alias("doc_id"),
                             "text"))
           .unionAll(d.filter(F.col("doc_id") % 10 == 1)
                     .select((F.col("doc_id") + 2000000).alias("doc_id"),
                             "text")))
    return old, new


def q_exact_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run incremental exact dedup (ops/incremental.py): new rows
    drop when their fingerprint exists in the prior run's persisted
    store; surviving within-batch groups keep min doc_id. The oracle
    re-derives both rules from raw text in SQL."""
    from gojsonschema_spark.ops import incremental as inc

    old, new = _incremental_slices(spark, sf_dir)
    store = inc.fingerprint_store(old)
    return inc.exact_dedup_incremental(new, store).select("doc_id")


def q_exact_dedup_incremental_bloom(spark: SparkSession, sf_dir: str) \
        -> DataFrame:
    """Bloom semi-join reduction over the day-2 anti-join
    (ops/bloom.py): a Bloom filter built over the NEW crawl's
    fingerprints pre-filters the store scan before the shuffle. False
    positives only reach the exact anti-join, so survivors are
    IDENTICAL to the plain route — same shared oracle."""
    from gojsonschema_spark.ops import incremental as inc

    old, new = _incremental_slices(spark, sf_dir)
    store = inc.fingerprint_store(old)
    return inc.exact_dedup_incremental(new, store, bloom_fpp=0.01) \
        .select("doc_id")


def q_minhash_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run incremental dedup against a persisted MinHash signature
    store in confirm_exact mode (ops/incremental.py): candidates come
    from the full signature pipeline (sign -> band -> bucket equi-join
    against the store) and confirm on the store's fp column — recall at
    identity is 1.0 by construction, the fp kills every J<1 lane
    collision (this corpus has organic J~0.98 pairs that DO collide on
    all 64 lanes), so the md5-based incremental SQL is a true oracle
    for the whole candidate path. The estimator mode (threshold < 1.0,
    no fp) is exercised by pytest instead — its verdicts are
    probabilistic by design and not SQL-derivable."""
    from gojsonschema_spark.ops import incremental as inc

    old, new = _incremental_slices(spark, sf_dir)
    store = inc.signature_store(old, num_hashes=64, k=3)
    return (inc.minhash_dedup_incremental(new, store, num_hashes=64,
                                          bands=16, confirm_exact=True)
            .select("doc_id"))


def q_embedding_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run embedding near-dup dedup vs a persisted vector store
    (ops/incremental.py::embedding_dedup_incremental): even-keyed
    vectors are the prior run; the new batch = odd vectors + 1.001x
    scalar copies of even bases (cosine exactly 1 vs the store -> drop)
    + 1.001x copies of odd bases (within-batch, base key smaller ->
    drop). Oracle = brute-force all-pairs NOT EXISTS on the same rounded
    cosine; sound because a positive scalar multiple preserves every
    hyperplane sign bit (guaranteed bucket collision) and the max
    organic cosine between distinct base vectors at these SFs is ~0.51,
    far under the 0.99 threshold."""
    from gojsonschema_spark.ops import incremental as inc

    e = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    bump = F.transform(v, lambda x: x * 1.001)
    old = e.filter(F.col("vec_id") % 2 == 0).select("vec_id", v.alias("embedding"))
    new = (e.filter(F.col("vec_id") % 2 == 1)
           .select("vec_id", v.alias("embedding"))
           .unionAll(e.filter(F.col("vec_id") % 20 == 0)
                     .select((F.col("vec_id") + 1000000).alias("vec_id"),
                             bump.alias("embedding")))
           .unionAll(e.filter(F.col("vec_id") % 20 == 1)
                     .select((F.col("vec_id") + 2000000).alias("vec_id"),
                             bump.alias("embedding"))))
    planes = sim.random_hyperplanes(64, 8, seed=7)
    return (inc.embedding_dedup_incremental(new, old, planes, threshold=0.99)
            .select("vec_id"))


def q_drift_nchars_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift over n_chars histogram
    buckets (ops/dataset_checks.py::histogram_drift_ks) — the
    distribution-free member of the drift family; same half-split as
    the KL histogram row."""
    d = _t(spark, sf_dir, "documents")
    half = d.agg(F.max("doc_id")).collect()[0][0] // 2
    return dc.histogram_drift_ks(d.filter(F.col("doc_id") <= half),
                                 d.filter(F.col("doc_id") > half),
                                 "n_chars", bucket_width=100.0)


def q_drift_lang_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index over the same half-split as
    drift_lang_kl (the symmetrized-KL risk-monitoring standard)."""
    d = _t(spark, sf_dir, "documents")
    half = d.agg(F.max("doc_id")).collect()[0][0] // 2
    return dc.categorical_drift_psi(d.filter(F.col("doc_id") <= half),
                                    d.filter(F.col("doc_id") > half), "lang")


def q_drift_lang_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon drift with a deliberately ONE-SIDED category: the
    Q side drops 'de' entirely, so the full-outer null-as-zero path (the
    reason to use JS over KL/PSI — new/vanished categories still count)
    is load-bearing, not vacuous."""
    d = _t(spark, sf_dir, "documents")
    return dc.categorical_drift_js(d, d.filter(F.col("lang") != "de"),
                                   "lang")


def q_asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (ASOF) join — the feature-store lookup Spark lacks
    natively (ops/joins.py::asof_join, union + last-non-null window, one
    shuffle): every event gets the latest 'checkpoint' event (id % 10 ==
    0) of the same user at or before its timestamp. DuckDB's native
    ASOF LEFT JOIN is the oracle."""
    from gojsonschema_spark.ops.joins import asof_join

    e = _t(spark, sf_dir, "events")
    checkpoints = (e.filter(F.col("event_id") % 10 == 0)
                   .select("user_id", "ts", "event_id"))
    return (asof_join(e, checkpoints, key_col="user_id", ts_col="ts",
                      value_col="event_id", out_col="asof_cp")
            # no-match rows render as -1: the driver/check_oracle row
            # sorters cannot order None against ints
            .select("event_id", "user_id",
                    F.coalesce("asof_cp", F.lit(-1)).alias("asof_cp")))


def q_range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join via time-bucketed equi-join
    (ops/joins.py::range_join — never a nested-loop plan): every event
    inside the 600-second window opened by each same-user checkpoint
    event (id % 20 == 0). Oracle = plain BETWEEN join in DuckDB."""
    from gojsonschema_spark.ops.joins import range_join

    e = _t(spark, sf_dir, "events")
    iv = (e.filter(F.col("event_id") % 20 == 0)
          .select("user_id", F.col("event_id").alias("cp_id"),
                  F.col("ts").alias("w_start"),
                  (F.col("ts") + F.expr("INTERVAL 600 SECONDS"))
                  .alias("w_end")))
    pts = e.select("user_id", "event_id", "ts")
    out = range_join(pts, iv, key_col="user_id", ts_col="ts",
                     start_col="w_start", end_col="w_end",
                     bucket_width_sec=600.0)
    return out.select("event_id", "cp_id")


def q_topk_per_group_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k WITHOUT the row_number window trap (which sorts a
    whole group on one task — a bot key serializes there): salted
    bounded two-stage aggregation, no task holds more than a lane
    (ops/dataset_checks.py::topk_per_group). Top-3 events per user by
    value, event_id tiebreak."""
    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    return dc.topk_per_group(e, ["user_id"], "value", k=3,
                             ascending=False, tiebreak_col="event_id")


def q_group_sample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group sampling (ops/dataset_checks.py::
    group_sample): 5 events per user ranked by md5(event_id || '|7') —
    a seed-keyed uniform permutation both engines can derive, routed
    through the skew-safe topk_per_group (no row_number window)."""
    e = _t(spark, sf_dir, "events").select("event_id", "user_id")
    return dc.group_sample(e, ["user_id"], k=5, id_col="event_id", seed=7)


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> text extraction (ops/html.py::extract_text_native, the
    zero-Python regexp chain behind the byte-identical-text-per-url
    invariant). Markup-rich html is constructed in-query around each
    document's text — title charref, style/script suppression (script
    body contains a literal '</p>'), comment, quoted '&amp;' attribute,
    entity-wrapped body — and the DuckDB oracle derives the expected
    text ANALYTICALLY from the construction, not by mirroring the
    regexes, so the two derivations are independent."""
    from gojsonschema_spark.ops.html import extract_text_native

    d = _t(spark, sf_dir, "documents")
    html = F.encode(F.concat(
        F.lit("<html><head><title>Doc&nbsp;"), F.col("doc_id").cast("string"),
        F.lit('</title><style media="x">p{color:red}</style></head>'
              "<body><!-- "),
        F.col("lang"),
        F.lit(' --><p class="a&amp;b">&quot;'), F.col("text"),
        F.lit('&quot;</p><script type="t">var s = "</p>";</script>'
              "<div id=x>end</div></body></html>")), "utf-8")
    return d.select("doc_id", extract_text_native(html).alias("extracted"))


def q_html_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction (ops/html.py::extract_links — one native
    regexp_extract_all, the web-graph seed op). Anchors are constructed
    in-query (double- and single-quoted hrefs, an entity-escaped query
    separator, a no-href <a> that must NOT extract); the oracle emits
    the expected link set analytically."""
    from gojsonschema_spark.ops.html import extract_links

    d = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<html><body><a class="o" href="https://'), F.col("lang"),
        F.lit(".example.com/d/"), F.col("doc_id").cast("string"),
        F.lit("?s="), F.col("source"),
        F.lit('&amp;v=1">x</a><a name=skip>n</a>'),
        F.lit("<a href='/rel/"), (F.col("doc_id") % 7).cast("string"),
        F.lit("'>r</a></body></html>"))
    return d.select(
        "doc_id",
        F.explode(extract_links(html, is_binary=False)).alias("link"))


def q_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 3986 component split (ops/web.py::parse_url — native struct,
    one regex pass per component). URLs are constructed in-query with
    userinfo / mixed-case host / optional port / query / fragment, and
    the oracle emits each component analytically from the construction
    — independent of the parsing regexes."""
    from gojsonschema_spark.ops.web import parse_url

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    url = F.concat(
        F.lit("HTTPS://u"), i.cast("string"),
        F.lit("@Host"), (i % 50).cast("string"), F.lit(".Example.COM"),
        F.when(i % 4 == 0, F.lit(":8443")).otherwise(F.lit("")),
        F.lit("/p/"), i.cast("string"),
        F.when(i % 3 == 0, F.concat(F.lit("?b=2&a="), F.col("lang")))
         .otherwise(F.lit("")),
        F.when(i % 5 == 0, F.lit("#s")).otherwise(F.lit("")))
    p = parse_url(url)
    return d.select(
        "doc_id",
        p.getField("scheme").alias("scheme"),
        p.getField("userinfo").alias("userinfo"),
        p.getField("host").alias("host"),
        F.coalesce(p.getField("port"), F.lit(-1)).alias("port"),
        p.getField("path").alias("path"),
        F.coalesce(p.getField("query"), F.lit("")).alias("query"),
        F.coalesce(p.getField("fragment"), F.lit("")).alias("fragment"))


def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization composition (webpages.normalize_url ->
    web.sort_query_params -> web.registered_domain): default-port strip,
    case folding, empty-path /, fragment drop, byte-sorted query params,
    PSL-lite registrable domain. Oracle states the canonical form
    analytically."""
    from gojsonschema_spark.ops.web import (
        registered_domain, sort_query_params)
    from gojsonschema_spark.ops.webpages import normalize_url, url_host

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    host = F.concat(F.lit("Host"), (i % 50).cast("string"),
                    F.lit(".Web"), (i % 5).cast("string"), F.lit(".CO.UK"))
    url = F.when(i % 2 == 0, F.concat(
        F.lit("HTTPS://"), host, F.lit(":443/a/p"), i.cast("string"),
        F.lit("?z=1&a="), F.col("lang"), F.lit("#f"))
    ).otherwise(F.concat(F.lit("http://"), host, F.lit(":80?b=2&a=1")))
    norm = sort_query_params(normalize_url(url))
    return d.select(
        "doc_id", norm.alias("norm_url"),
        registered_domain(url_host(norm)).alias("domain"))


def q_host_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-graph composition (html.extract_links -> web.resolve_link ->
    graph.host_link_graph -> graph.host_degrees): anchors constructed
    in-query (absolute, root-relative = self-host, protocol-relative
    that collides with the source host for doc_id % 10 == 0 — both
    excluded as self edges). Oracle derives the edge set analytically
    and aggregates degrees in SQL."""
    from gojsonschema_spark.ops.graph import host_degrees, host_link_graph

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    src_host = F.concat(F.lit("h"), (i % 20).cast("string"),
                        F.lit(".ex.com"))
    url = F.concat(F.lit("https://"), src_host, F.lit("/d/"),
                   i.cast("string"))
    html = F.concat(
        F.lit('<a href="https://h'), ((i + 1) % 20).cast("string"),
        F.lit('.ex.com/x">a</a><a href="/l/'), (i % 7).cast("string"),
        F.lit('">self</a>'),
        F.lit("<a href='//h"), ((i * 3) % 20).cast("string"),
        F.lit(".ex.com/y'>p</a>"))
    pages = d.select(url.alias("url"), html.alias("html"))
    return host_degrees(host_link_graph(pages, is_binary=False))


def q_pagerank_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank power iteration (ops/graph.py::pagerank, decimal-sum
    deterministic, 2 jobs/iteration) over a weighted bipartite-ish
    graph built from documents (lang -> source edges weighted by count;
    source -> lang back-edges from even doc_ids only, so some sources
    are dangling at small SFs). Fixed 3 iterations; the oracle unrolls
    the same recurrence in SQL, rounded to 7 decimals on both sides."""
    from gojsonschema_spark.ops.graph import pagerank

    d = _t(spark, sf_dir, "documents")
    e1 = d.groupBy(F.col("lang").alias("src"),
                   F.col("source").alias("dst")).agg(
        F.count(F.lit(1)).alias("n_links"))
    e2 = (d.filter(F.col("doc_id") % 2 == 0)
           .groupBy(F.col("source").alias("src"),
                    F.col("lang").alias("dst"))
           .agg(F.count(F.lit(1)).alias("n_links")))
    ranks = pagerank(e1.unionByName(e2), max_iter=3, tol=None)
    return ranks.select("host", F.round("rank", 7).alias("rank"))


def q_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning rules (ops/text.py::c4_quality_filter — Raffel et al.
    2020 §2.2, map-side, one lambda pass). Documents are staged into
    multi-line pages with a known-good 3-sentence line, a short line,
    an unterminated line, and residue-keyed javascript / lorem-ipsum /
    brace lines; the oracle states the retained text, sentence count
    and page verdict analytically from the construction. (The corpus
    carries no organic newlines/periods/braces — verified — so the
    construction fully determines the outcome.)"""
    from gojsonschema_spark.ops.text import c4_quality_filter

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    staged_text = F.concat(
        F.col("text"), F.lit(" ok. It works well. It ends fine."),
        F.lit("\nToo short."),
        F.lit("\nthis line has no terminal punctuation at all"),
        F.when(i % 4 == 0,
               F.lit("\nthis Javascript line would be dropped always."))
         .otherwise(F.lit("")),
        F.when(i % 9 == 0, F.lit("\nlorem ipsum dolor sit amet here."))
         .otherwise(F.lit("")),
        F.when(i % 11 == 0, F.lit("\ncode with brace { inside this line."))
         .otherwise(F.lit("")))
    staged = d.select("doc_id", staged_text.alias("text"))
    out = c4_quality_filter(staged)
    return out.select("doc_id", "clean_text",
                      F.col("n_sentences").cast("int").alias("n_sentences"),
                      "keep")


def q_robots_allowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 crawl-permission verdicts (ops/robots.py): per-host
    robots.txt bodies (three residue-keyed policies: prefix+allow
    override / agent-specific total ban / $-anchored wildcard) parsed
    into rules, then crawl_allowed for agent spark-bot over four path
    shapes per document. The oracle states the verdict truth table
    analytically from the (host residue, path residue) construction."""
    from gojsonschema_spark.ops.robots import crawl_allowed, parse_robots

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    h = i % 20
    path = F.element_at(
        F.array(F.lit("/public/a"), F.lit("/private/x"),
                F.lit("/private/ok/y"), F.lit("/data/f.json")),
        (i % 4 + 1).cast("int"))
    url = F.concat(F.lit("https://h"), h.cast("string"),
                   F.lit(".ex.com"), path)
    pages = d.select("doc_id", url.alias("url"))
    robots = (d.select(h.alias("hn")).distinct()
               .select(F.concat(F.lit("h"), F.col("hn").cast("string"),
                                F.lit(".ex.com")).alias("host"),
                       F.when(F.col("hn") % 3 == 0, F.lit(
                           "User-agent: *\nDisallow: /private/\n"
                           "Allow: /private/ok/\n"))
                        .when(F.col("hn") % 3 == 1, F.lit(
                            "User-agent: spark-bot\nDisallow: /\n\n"
                            "User-agent: *\nDisallow:\n"))
                        .otherwise(F.lit(
                            "User-agent: *\nDisallow: /*.json$\n"))
                        .alias("robots_txt")))
    out = crawl_allowed(pages, parse_robots(robots), agent="spark-bot")
    return out.select("doc_id", "url", "allowed")


def q_crawl_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl snapshot diff rollup (ops/incremental.py::crawl_diff_summary
    — full-outer fp join on url, per-host status counts). Old/new crawls
    are residue-keyed slices of documents with content drift planted on
    doc_id % 7 == 0; the oracle counts each status directly from the
    residue arithmetic, independent of the join."""
    from gojsonschema_spark.ops.incremental import crawl_diff_summary

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    url = F.concat(F.lit("https://h"), (i % 20).cast("string"),
                   F.lit(".ex.com/d/"), i.cast("string"))
    base = d.select("doc_id", url.alias("url"), "text")
    old = base.filter(i % 3 != 0)
    new = (base.filter(i % 5 != 1)
           .withColumn("text",
                       F.when(i % 7 == 0,
                              F.concat(F.col("text"), F.lit(" v2")))
                        .otherwise(F.col("text"))))
    return crawl_diff_summary(old, new)


def q_token_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token vocabulary (ops/text.py::token_vocab): top 100
    lowercased whitespace tokens with a deterministic (n desc, token
    asc) tiebreak — TakeOrderedAndProject, map-side partial counts.
    The oracle re-counts in DuckDB from the same tokenization."""
    from gojsonschema_spark.ops.text import token_vocab

    d = _t(spark, sf_dir, "documents")
    return token_vocab(d, top_n=100)


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus carving (ops/dataset_checks.py::hash_split):
    80/10/10 train/val/test keyed on md5(doc_id || '|' || seed) —
    layout-independent (the group_sample keying rule), zero shuffle.
    The oracle recomputes the bucket from DuckDB's md5 over the same
    key bytes."""
    from gojsonschema_spark.ops import dataset_checks as dc

    d = _t(spark, sf_dir, "documents")
    out = dc.hash_split(d, "doc_id",
                        {"train": 0.8, "val": 0.1, "test": 0.1}, seed=7)
    return out.select("doc_id", "split")


def q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-container round trip (io/warc.py): documents -> distributed
    WARC sink (one gzip-member-framed shard per partition, manifest
    collected to materialize the write) -> binaryFile ingest, one file
    per task -> page rows. The oracle recomputes the expected rows
    straight from the parquet table, so the WARC leg must be lossless
    on url, payload bytes, and WARC-Date."""
    import os
    import shutil
    import tempfile

    from gojsonschema_spark.io.warc import read_warc, write_warc

    d = _t(spark, sf_dir, "documents")
    pages = d.select(
        F.concat(F.lit("https://example.org/doc/"),
                 F.col("doc_id")).alias("url"),
        F.expr("timestamp_ntz'2025-01-01 00:00:00' + "
               "make_dt_interval(0, 0, 0, doc_id)").alias("warc_ts"),
        F.encode("text", "utf-8").alias("html"))
    out = os.path.join(
        tempfile.gettempdir(),
        "gjs_warc_ingest_" + os.path.basename(os.path.normpath(sf_dir)))
    shutil.rmtree(out, ignore_errors=True)
    write_warc(pages, out, n_files=8).collect()
    back = read_warc(spark, out)
    return back.select(
        F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("bigint")
        .alias("doc_id"),
        F.decode("html", "utf-8").alias("text"),
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("ts"))


def q_fix_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake repair (ops/text.py::fix_mojibake): plant cp1252
    corruption deterministically ('a' -> 'Ã©', 'e' -> 'â€™': the
    mojibake forms of 'é' and '’'), run the 115-entry repair chain,
    and the oracle checks against direct substitution of the CLEAN
    chars — so the chain must repair exactly and touch nothing else."""
    from gojsonschema_spark.ops.text import fix_mojibake

    d = _t(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.replace(F.replace(F.col("text"), F.lit("a"), F.lit("Ã©")),
                  F.lit("e"), F.lit("â€™")).alias("text"))
    return fix_mojibake(planted, out_col="fixed") \
        .select("doc_id", "fixed")


def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-training inner table (ops/text.py::bpe_pair_counts):
    adjacent-character pair counts weighted by word frequency, computed
    over the UNIQUE-word table (vocabulary-sized shuffles; the corpus
    is scanned once). Oracle re-derives the same counts in DuckDB via
    lateral generate_series over each distinct word."""
    from gojsonschema_spark.ops.text import bpe_pair_counts

    d = _t(spark, sf_dir, "documents")
    return bpe_pair_counts(d)


def _json_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-JSON twin of the documents table for the induction rows:
    {"id", "lang" (omitted when doc_id%7==0 — to_json drops nulls),
    "n", "tags": [source], "meta": {"len": n_chars}}."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.to_json(F.struct(
            F.col("doc_id").alias("id"),
            F.when(F.col("doc_id") % 7 != 0, F.col("lang")).alias("lang"),
            F.col("n_chars").alias("n"),
            F.array(F.col("source")).alias("tags"),
            F.struct(F.col("n_chars").alias("len")).alias("meta"),
        )).alias("doc"))


def q_json_field_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed JSON field profile (ops/schema_induction.py): one
    Arrow-batched walk over the corpus, path-sized aggregates. The
    oracle hand-derives every (path, type) row's occurrence count and
    numeric/length bounds from the raw columns. Nulls coalesced to -1
    on both sides (driver sorter can't order None)."""
    from gojsonschema_spark.ops.schema_induction import json_field_profile

    j = _json_corpus(spark, sf_dir)
    return json_field_profile(j, "doc").select(
        "path", "jtype", "n",
        F.coalesce("min_num", F.lit(-1.0)).alias("min_num"),
        F.coalesce("max_num", F.lit(-1.0)).alias("max_num"),
        F.coalesce("min_len", F.lit(-1).cast("bigint")).alias("min_len"),
        F.coalesce("max_len", F.lit(-1).cast("bigint")).alias("max_len"))


def q_induced_schema_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The induction round-trip contract, end to end through the real
    engine: induce a draft-07 schema from the JSON corpus, validate the
    corpus PLUS type-flipped mutants (doc_id+1000000, "n" rendered as a
    string and id out of the induced range). Every original must
    validate, every mutant must fail — the oracle knows which is which
    by key alone."""
    from gojsonschema_spark.ops.schema_induction import induce_schema
    from gojsonschema_spark.spark.engine import SparkValidator

    orig = _json_corpus(spark, sf_dir)
    schema = induce_schema(orig, "doc")
    d = _t(spark, sf_dir, "documents")
    mutants = d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.to_json(F.struct(
            (F.col("doc_id") + 1000000).alias("id"),
            F.when(F.col("doc_id") % 7 != 0, F.col("lang")).alias("lang"),
            F.col("n_chars").cast("string").alias("n"),
            F.array(F.col("source")).alias("tags"),
            F.struct(F.col("n_chars").alias("len")).alias("meta"),
        )).alias("doc"))
    v = SparkValidator(schema, draft="draft7")
    return (v.validate_json(orig.unionAll(mutants), "doc")
            .select("doc_id", "valid"))


def q_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-2 schema drift (ops/schema_induction.py::profile_diff): the
    new crawl shifts the id range (+1), renders n as a string, drops
    tags, and adds a boolean — so the expected per-path classification
    is STATIC at every scale factor, which is exactly what the oracle
    pins."""
    from gojsonschema_spark.ops.schema_induction import (
        json_field_profile, profile_diff)

    d = _t(spark, sf_dir, "documents")
    old_p = json_field_profile(_json_corpus(spark, sf_dir), "doc")
    new = d.select(F.to_json(F.struct(
        (F.col("doc_id") + 1).alias("id"),
        F.when(F.col("doc_id") % 7 != 0, F.col("lang")).alias("lang"),
        F.col("n_chars").cast("string").alias("n"),
        F.struct(F.col("n_chars").alias("len")).alias("meta"),
        F.lit(True).alias("extra"),
    )).alias("doc"))
    new_p = json_field_profile(new, "doc")
    return profile_diff(old_p, new_p).select("path", "status")


def q_normalize_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (ops/text.py::normalize_unicode):
    plant decomposed sequences ('e' -> e + COMBINING ACUTE U+0301),
    normalize, and the oracle runs DuckDB's native nfc_normalize over
    the same planted text — two independent NFC implementations must
    agree byte-for-byte."""
    from gojsonschema_spark.ops.text import normalize_unicode

    d = _t(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.replace(F.col("text"), F.lit("e"),
                  F.lit("e\u0301")).alias("text"))  # decomposed, explicit
    return normalize_unicode(planted, out_col="nfc") \
        .select("doc_id", "nfc")


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style n-gram LM quality scoring (ops/lm.py): train a
    bigram stupid-backoff model on the doc_id%4==0 reference slice,
    score EVERY document by mean log-probability per token. The oracle
    re-derives the whole pipeline (token positions, counts,
    conditionals, backoff, per-doc mean) in DuckDB from the raw text."""
    from gojsonschema_spark.ops.lm import lm_score, lm_train

    d = _t(spark, sf_dir, "documents")
    model = lm_train(d.filter(F.col("doc_id") % 4 == 0))
    return (lm_score(d, model)
            .select("doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
                    "log_prob_per_token"))


def _fixed_centroids(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """Deterministic centroids for the oracled clustering rows: the
    embedding vectors of vec_id 0..7 in vec_id order (cid == vec_id).
    A k-means FIT is iterative and not SQL-expressible; fixing the
    centroids makes assignment + semdedup independently derivable."""
    emb = _t(spark, sf_dir, "embeddings")
    rows = emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    return [[float(x) for x in r.embedding] for r in rows]


def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means assignment (ops/clustering.py): nearest centroid by
    squared L2 over the Arrow production path (numpy per batch, zero
    shuffle). dist2 is clamped at 0 before rounding — the factored
    ||x||^2 - 2xc + ||c||^2 form can go -1e-12 for exact matches and
    round to -0.0, which hashes differently from the oracle's 0.0."""
    from gojsonschema_spark.ops.clustering import kmeans_assign

    emb = _t(spark, sf_dir, "embeddings")
    out = kmeans_assign(emb, _fixed_centroids(spark, sf_dir))
    return out.select(
        "vec_id", "cid",
        F.round(F.greatest(F.col("dist2"), F.lit(0.0)), 6).alias("dist2"))


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (ops/clustering.py): cluster-confined cosine near-dup
    pruning over a corpus with planted perturbed copies (the same
    planting as dedup_embedding). The oracle re-derives assignment,
    within-cluster pairs and canonical-min-id survivors in DuckDB."""
    from gojsonschema_spark.ops.clustering import semdedup

    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.select("vec_id", "embedding").unionByName(
        emb.filter(F.col("vec_id") % 20 == 0).select(
            (F.col("vec_id") + 1000000).alias("vec_id"),
            F.transform("embedding",
                        lambda x: x * F.lit(1.001)).alias("embedding")))
    out = semdedup(planted, centroids=_fixed_centroids(spark, sf_dir),
                   threshold=0.99)
    return out.select("vec_id", "cid", "keep")


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 full-text top-k (ops/search.py): postings with map-side dl,
    per-term df over the query's candidates only, native scoring, one
    TakeOrderedAndProject. The oracle re-derives the entire ranking —
    tokenization, stats, idf, tf norm — in DuckDB SQL with matched FP
    expression shapes."""
    from gojsonschema_spark.ops.search import bm25_topk

    d = _t(spark, sf_dir, "documents")
    return bm25_topk(d, "hash join spark window", k=25)


def q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-span detection (ops/spans.py, Lee et al. 2022
    ExactSubstr re-expressed distributed): corpus-wide 5-gram counts,
    per-doc duplicated-start positions and covered-token mass. Integer
    set algebra throughout — the only float is one int/int division.
    Arrays rendered CSV for the driver hasher; counters cast to long on
    both sides."""
    from gojsonschema_spark.ops.spans import repeated_ngram_spans

    d = _t(spark, sf_dir, "documents")
    out = repeated_ngram_spans(d, n=5, min_count=2)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.concat_ws(",", F.transform("dup_starts",
                                     lambda x: x.cast("string")))
        .alias("dup_starts"),
        F.col("n_dup_grams").cast("long").alias("n_dup_grams"),
        F.col("dup_token_mass").cast("long").alias("dup_token_mass"),
        "dup_frac")


def q_quality_clf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature linear classifier scoring (ops/classifier.py)
    through the production native-join path: md5-bucketed feature ids
    (engine-portable by construction), a deterministic integer weight
    table w(fid) = fid % 1001 - 500 derived from the corpus's own
    feature space, margin = per-doc occurrence-weight sum. All-integer
    algebra (margins are exact doubles well under 2^53) cast to long
    for the driver hasher; prob omitted (exp() is not required to be
    correctly rounded, so cross-engine sigmoid bits can differ)."""
    from gojsonschema_spark.ops.classifier import (hashed_feature_ids,
                                                   score_quality_native)

    dim = 4096
    d = _t(spark, sf_dir, "documents")
    weights = (d.select(F.explode(hashed_feature_ids("text", dim))
                        .alias("fid"))
               .distinct()
               .select("fid", (F.col("fid") % 1001 - 500)
                       .cast("double").alias("w")))
    out = score_quality_native(d, weights, dim, "doc_id")
    return out.select("doc_id", F.col("margin").cast("long").alias("margin"))


def q_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity split (ops/lm.py +
    ops/ranking.py): bigram LM trained on the doc_id%4==0 slice scores
    every document; each language is cut into buckets of equal
    cumulative TOKEN mass in score order via the skew-immune
    range-partitioned prefix sum (never a per-language single-reducer
    window). Integer cumulative weights are exact; share is the IEEE
    division of the same integers in both engines; the rounded score
    makes tie order (score desc, doc_id) engine-identical."""
    from gojsonschema_spark.ops.lm import lm_train, perplexity_buckets

    d = _t(spark, sf_dir, "documents")
    model = lm_train(d.filter(F.col("doc_id") % 4 == 0))
    out = perplexity_buckets(d, model)
    return out.select("doc_id", "lang", "log_prob_per_token",
                      F.col("weight").cast("long").alias("weight"),
                      F.col("cum_weight").cast("long").alias("cum_weight"),
                      "share", "bucket")


def q_tfidf_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed TF-IDF featurization (ops/classifier.py::
    hashed_tfidf_sparse): md5-bucketed fids, exact integer tf/df, the
    dim-BOUNDED document-frequency table broadcast, smooth-idf weights
    rounded to 6 (the lm_score ln-parity precedent). The text-to-vector
    bridge feeding ANN/SemDeDup/k-means without an external model."""
    from gojsonschema_spark.ops.classifier import hashed_tfidf_sparse

    d = _t(spark, sf_dir, "documents")
    return hashed_tfidf_sparse(d, 512, "doc_id")


def q_anchor_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-target anchor-text profile (ops/html.py::extract_anchors +
    ops/graph.py::anchor_text_aggregate): anchors constructed in-query
    (inner markup + ragged whitespace to exercise the native cleanup,
    an entity-escaped query separator, a mailto: and an empty-text
    anchor that must BOTH drop), real extract -> RFC 3986 resolve ->
    salted bounded top-k; the oracle emits the expected table
    analytically and ranks with a window."""
    from gojsonschema_spark.ops.graph import anchor_text_aggregate

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    pages = d.select(
        F.concat(F.lit("https://"), F.col("lang"),
                 F.lit(".example.com/d/"), i.cast("string")).alias("url"),
        F.concat(
            F.lit('<a href="/t/'), (i % 10).cast("string"),
            F.lit('"><b>read</b> '), F.col("source"), F.lit("   now</a>"),
            F.lit("<a href='https://hub.example.com/"),
            (i % 3).cast("string"), F.lit("?a=1&amp;b=2'>hub "),
            (i % 2).cast("string"), F.lit("</a>"),
            F.lit('<a href="mailto:x@y">m</a><a href="/e"></a>'))
        .alias("html"))
    return anchor_text_aggregate(pages, is_binary=False, top_n=2) \
        .select("target", "anchor", F.col("n").cast("long").alias("n"))


def q_host_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style per-host (here: per-source) quality rollup
    (ops/web.py::host_quality_rollup): intra-host exact-dup mass, mean
    tokens, short-doc fraction, keep/drop verdict. Two map-side-
    combinable aggregations — the big shuffle carries one row per
    (host, fingerprint). Ratios divide identical integers in both
    engines; verdicts compare those exact doubles to literals."""
    from gojsonschema_spark.ops.web import host_quality_rollup

    d = _t(spark, sf_dir, "documents")
    out = host_quality_rollup(d, host_col="source", min_docs=5,
                              short_tokens=40, max_dup_frac=0.2,
                              max_short_frac=0.5, min_mean_tokens=20.0)
    return out.select(F.col("host").alias("source"),
                      F.col("n_docs").cast("long").alias("n_docs"),
                      F.col("dup_docs").cast("long").alias("dup_docs"),
                      "dup_frac", "mean_tokens", "short_frac",
                      F.col("keep").cast("long").alias("keep"))


def q_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-language n_chars percentiles (ops/ranking.py::
    exact_weighted_percentiles) — the exact twin of the column
    profiler's approx_percentile, computed on the skew-immune
    range-partitioned prefix sum (never a per-language single-reducer
    window). Type-1 (lower) quantiles: the smallest value whose
    inclusive cumulative doc share reaches q; crossing test compares
    IEEE divisions of identical integers, engine-exact."""
    from gojsonschema_spark.ops.ranking import exact_weighted_percentiles

    d = _t(spark, sf_dir, "documents")
    out = exact_weighted_percentiles(
        d, "n_chars", qs=(0.25, 0.5, 0.9, 1.0), id_col="doc_id",
        group_col="lang")
    return out.select("lang", "q", F.col("value").cast("long").alias("value"),
                      "cum_weight", "total_weight")


def q_lang_clf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiclass (softmax) classifier scoring through the production
    native-join path (ops/classifier.py::score_multiclass_native):
    md5-bucketed features, a deterministic integer weight grid
    w(fid, c) = (fid*(3+2c)) % 101 - 50 over dim=4096 x 3 classes,
    per-class conditional-sum margins, argmax label with the
    first-lowest-index tie-break (empty docs -> all-zero margins ->
    first class). All-integer algebra; margins cast to long."""
    from gojsonschema_spark.ops.classifier import score_multiclass_native

    dim, cls = 4096, ["de", "en", "fr"]
    d = _t(spark, sf_dir, "documents")
    weights = (spark.range(dim).select(F.col("id").alias("fid"))
               .crossJoin(spark.range(len(cls))
                          .select(F.col("id").cast("int").alias("c")))
               .select("fid", "c",
                       ((F.col("fid") * (3 + 2 * F.col("c"))) % 101 - 50)
                       .cast("double").alias("w")))
    out = score_multiclass_native(d, weights, dim, "doc_id", cls)
    return out.select(
        "doc_id",
        *[F.col(f"margin_{i}").cast("long").alias(f"margin_{i}")
          for i in range(len(cls))],
        "label")


# fixed BPE merge list for the oracled encode row: learned once via
# bpe_train at sf0.01 (deterministic argmax) and frozen so the Spark
# query and the generated DuckDB oracle share it as a literal.
# Includes multi-char merges ('m','er'),('p','ar'),('jo','in') so the
# oracle exercises symbol (not char) boundaries.
_BPE12 = (("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
          ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
          ("j", "o"), ("jo", "in"))


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer application (ops/text.py::bpe_encode): the Arrow
    production encoder (merge ranks in the closure, per-worker word
    memo, zero shuffle) applying the frozen _BPE12 merge list. The
    DuckDB oracle re-derives the SAME greedy left-to-right fold per
    merge over a unit-separator string accumulator (list_reduce has no
    list accumulator in DuckDB 1.0), per DISTINCT word, then
    reassembles documents in word order. Tokens are space-joined (the
    driver hasher cannot sort array columns)."""
    from gojsonschema_spark.ops.text import bpe_encode

    d = _t(spark, sf_dir, "documents")
    out = bpe_encode(d, _BPE12)
    return out.select(
        "doc_id",
        F.array_join("bpe_tokens", " ").alias("bpe_text"),
        F.size("bpe_tokens").cast("long").alias("n_bpe"))


def _bpe12_oracle() -> str:
    """Generate the DuckDB twin of the _BPE12 greedy merge chain."""
    expr = "string_split(w, '')"
    for a, b in _BPE12:
        qa, qb = a.replace("'", "''"), b.replace("'", "''")
        qm = (a + b).replace("'", "''")
        expr = (
            "string_split(list_reduce({src}, (acc, s) -> "
            "CASE WHEN (acc = '{a}' OR ends_with(acc, chr(31) || '{a}'))"
            " AND s = '{b}' "
            "THEN left(acc, len(acc) - {la}) || '{m}' "
            "ELSE acc || chr(31) || s END), chr(31))"
        ).format(src=expr, a=qa, b=qb, la=len(a), m=qm)
    return """
        WITH w0 AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text),
                                                     '\\s+'),
                               x -> x <> '') AS words
            FROM documents
        ), occ AS (
            SELECT doc_id, i, words[i] AS w
            FROM w0, UNNEST(generate_series(1, len(words))) AS t(i)
        ), uw AS (
            SELECT DISTINCT w FROM occ
        ), enc AS (
            SELECT w, {expr} AS toks FROM uw
        ), agg AS (
            SELECT o.doc_id,
                   string_agg(array_to_string(e.toks, ' '), ' '
                              ORDER BY o.i) AS bpe_text,
                   SUM(len(e.toks)) AS n
            FROM occ o JOIN enc e USING (w)
            GROUP BY o.doc_id
        )
        SELECT d.doc_id, COALESCE(a.bpe_text, '') AS bpe_text,
               CAST(COALESCE(a.n, 0) AS BIGINT) AS n_bpe
        FROM documents d LEFT JOIN agg a USING (doc_id)
    """.replace("{expr}", expr)


def _multischema_staged(spark: SparkSession, sf_dir: str):
    """Shared corpus + validator for the multischema rows: three kinds
    assigned by doc_id residue, each with its own contract."""
    from gojsonschema_spark.spark.engine import MultiSchemaValidator

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kind = F.element_at(
        F.array(F.lit("article"), F.lit("product"), F.lit("metric")),
        (F.col("doc_id") % 3 + 1).cast("int"))
    payload = F.to_json(F.struct(
        F.when(F.col("doc_id") % 5 != 0, F.col("source")).alias("title"),
        (F.col("doc_id") % 7 - 3).alias("price"),
        F.col("doc_id").alias("value")))
    staged = docs.select("doc_id", kind.alias("kind"), payload.alias("doc"))
    mv = MultiSchemaValidator({
        "article": {"type": "object", "required": ["title"],
                    "properties": {"title": {"type": "string",
                                             "minLength": 3}}},
        "product": {"properties": {"price": {"minimum": 0}}},
        "metric": {"properties": {"value": {"multipleOf": 4}}},
    })
    return staged, mv


def q_multischema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row schema dispatch (spark/engine.py::MultiSchemaValidator);
    the oracle mirrors the per-kind validity arithmetic directly."""
    staged, mv = _multischema_staged(spark, sf_dir)
    return (mv.validate_json(staged, "doc", "kind")
            .select("doc_id", "valid"))


def q_multischema_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan dispatched violations (MultiSchemaValidator
    .violations_table): the dispatch valid bit prunes valid rows behind a
    Generate barrier, then kind-masked elaboration UDFs run over the
    invalid tail only. Per-(kind, keyword) histogram is SQL-derivable
    from the residue construction: article misses 'title' at doc_id%5==0
    (required), product price = doc_id%7-3 < 0 (number_gte), metric
    value % 4 != 0 (multiple_of)."""
    staged, mv = _multischema_staged(spark, sf_dir)
    return (mv.violations_table(staged, "doc", "kind", ["doc_id"])
            .groupBy("kind", "keyword")
            .agg(F.count(F.lit(1)).alias("n")))


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship validation over sf0.001: per-document verdict + keyword."""
    return q_validate_flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """First 50 entries fill the driver gate exactly (it runs the first
    50 in iteration order — round-2 showed a hard cap): pipeline/
    analytics queries first, then the engine keyword rows; the 20
    format/scalar micro-rows of round 2 are merged into 4 bundles with
    per-keyword valid_* columns. Entries 51+ are oracled via
    tools/check_oracle.py instead of the driver."""
    return {
        # training-data pipeline + analytics breadth
        "dedup_exact": q_dedup_exact,
        "text_token_count": q_text_token_count,
        "text_quality": q_text_quality,
        "fingerprint": q_fingerprint,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "agg_pricing_summary": q_agg_pricing_summary,
        "join_top_orders": q_join_top_orders,
        "window_user_gaps": q_window_user_gaps,
        "rollup_hourly_events": q_rollup_hourly_events,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "simhash": q_simhash,
        "dedup_embedding": q_dedup_embedding,
        # round-3 additions
        "validate_variant": q_validate_variant,
        "sessionize_events": q_sessionize_events,
        "ann_ivf_pruned": q_ann_ivf_pruned,
        "bucketed_join_agg": q_bucketed_join_agg,
        "skew_salted_counts": q_skew_salted_counts,
        "multimodal_features": q_multimodal_features,
        # flagship validation
        "validate_flagship": q_validate_flagship,
        "violations_by_keyword": q_violations_by_keyword,
        "validate_events_props": q_validate_events_props,
        # dataset-level checks (§2.7 / north_star)
        "column_profile_n_chars": q_column_profile_n_chars,
        "uniqueness_events_user": q_uniqueness_events_user,
        "referential_orphans": q_referential_orphans,
        "drift_lang_kl": q_drift_lang_kl,
        "drift_nchars_hist": q_drift_nchars_hist,
        "lang_id": q_lang_id,
        # per-keyword engine rows
        "kw_type_union": q_kw_type_union,
        "kw_anyof": q_kw_anyof,
        "kw_oneof": q_kw_oneof,
        "kw_allof": q_kw_allof,
        "kw_not": q_kw_not,
        "kw_ref": q_kw_ref,
        "kw_ref_cyclic": q_kw_ref_cyclic,
        "kw_items_unique": q_kw_items_unique,
        "kw_dependencies": q_kw_dependencies,
        "kw_if_then_else": q_kw_if_then_else,
        "kw_pattern_properties": q_kw_pattern_properties,
        "kw_additional_properties": q_kw_additional_properties,
        "kw_property_names": q_kw_property_names,
        "kw_contains": q_kw_contains,
        "kw_min_max_items": q_kw_min_max_items,
        "kw_min_max_properties": q_kw_min_max_properties,
        "kw_additional_items": q_kw_additional_items,
        # bundles: scalar keywords + all 17 builtin formats + custom format
        "kw_scalars": q_kw_scalars,
        "kw_format_net": q_kw_format_net,
        "kw_format_uris": q_kw_format_uris,
        "kw_format_tokens": q_kw_format_tokens,
        "kw_format_custom": q_kw_format_custom,
        # entries past the driver's 50-row cap: not driver-run, but fully
        # oracled and exercised by tools/check_oracle.py
        "dup_paragraphs": q_dup_paragraphs,
        "repetition_stats": q_repetition_stats,
        "contamination": q_contamination,
        "multischema_kinds": q_multischema,
        "token_count_bpe": q_token_count_bpe,
        "multischema_violations": q_multischema_violations,
        "gopher_filter": q_gopher_filter,
        "frequent_items": q_frequent_items,
        "semi_anti_orders": q_semi_anti_orders,
        "repetition_ngrams": q_repetition_ngrams,
        # round-5 additions: day-2 cross-run incremental dedup
        "exact_dedup_incremental": q_exact_dedup_incremental,
        "minhash_dedup_incremental": q_minhash_dedup_incremental,
        "embedding_dedup_incremental": q_embedding_dedup_incremental,
        "drift_lang_psi": q_drift_lang_psi,
        "drift_lang_js": q_drift_lang_js,
        "asof_join_events": q_asof_join_events,
        "range_join_events": q_range_join_events,
        "topk_per_group": q_topk_per_group_events,
        "group_sample": q_group_sample_events,
        "drift_nchars_ks": q_drift_nchars_ks,
        "html_extract": q_html_extract,
        "html_links": q_html_links,
        "url_parse": q_url_parse,
        "url_normalize": q_url_normalize,
        "host_degrees": q_host_degrees,
        "pagerank_hosts": q_pagerank_hosts,
        "c4_filter": q_c4_filter,
        "robots_allowed": q_robots_allowed,
        "crawl_diff": q_crawl_diff,
        "token_vocab": q_token_vocab,
        "hash_split": q_hash_split,
        "warc_ingest": q_warc_ingest,
        "fix_mojibake": q_fix_mojibake,
        "bpe_pairs": q_bpe_pairs,
        "exact_dedup_incremental_bloom": q_exact_dedup_incremental_bloom,
        "json_field_profile": q_json_field_profile,
        "induced_schema_valid": q_induced_schema_valid,
        "schema_drift": q_schema_drift,
        "normalize_nfc": q_normalize_nfc,
        "lm_score": q_lm_score,
        "kmeans_assign": q_kmeans_assign,
        "semdedup": q_semdedup,
        "bm25_topk": q_bm25,
        "repeated_spans": q_repeated_spans,
        "quality_clf": q_quality_clf,
        "ppl_buckets": q_ppl_buckets,
        "bpe_encode": q_bpe_encode,
        "lang_clf": q_lang_clf,
        "exact_percentiles": q_exact_percentiles,
        "host_rollup": q_host_rollup,
        "anchor_texts": q_anchor_texts,
        "tfidf_sparse": q_tfidf_sparse,
    }


_EXACT_PAIR_ORACLE = r"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
    ), fps AS (
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        FROM corpus
    )
    SELECT a.doc_id AS key_a, b.doc_id AS key_b
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
"""


def oracle_sql() -> dict[str, str]:
    flagship_valid = ("(doc_id % 7 <> 0 AND doc_id % 11 <> 0 "
                      "AND doc_id % 13 <> 0)")
    out = {
        "kw_format_net": _fmt_bundle_oracle(_FMT_NET),
        "kw_format_uris": _fmt_bundle_oracle(_FMT_URIS),
        "kw_format_tokens": _fmt_bundle_oracle(_FMT_TOKENS),
        "kw_scalars": """
            SELECT doc_id,
                   lang = 'en' AS valid_const,
                   lang IN ('en','de','fr') AS valid_enum,
                   n_chars > 100 AND n_chars < 400 AS valid_bounds,
                   n_chars % 3 = 0 AS valid_multipleof,
                   len(text) BETWEEN 50 AND 300 AS valid_length
            FROM documents
        """,
    }
    out.update({
        "kw_format_custom": ("SELECT doc_id, length(source) % 2 = 0 AS valid "
                             "FROM documents"),
        "kw_allof": ("SELECT doc_id, n_chars >= 100 AND n_chars % 2 = 0 AS valid "
                     "FROM documents"),
        "kw_not": "SELECT doc_id, lang <> 'en' AS valid FROM documents",
        "kw_ref": "SELECT doc_id, n_chars >= 100 AS valid FROM documents",
        "kw_ref_cyclic": "SELECT doc_id, doc_id % 3 <> 0 AS valid FROM documents",
        "kw_pattern_properties": ("SELECT doc_id, doc_id % 2 <> 0 AS valid "
                                  "FROM documents"),
        "kw_additional_properties": ("SELECT doc_id, doc_id % 2 <> 0 AS valid "
                                     "FROM documents"),
        "kw_property_names": ("SELECT doc_id, doc_id % 2 <> 0 AS valid "
                              "FROM documents"),
        "kw_contains": ("SELECT doc_id, n_chars >= 300 AS valid FROM documents"),
        "kw_min_max_items": ("SELECT doc_id, (doc_id % 4) + 1 BETWEEN 2 AND 3 "
                             "AS valid FROM documents"),
        "kw_min_max_properties": ("SELECT doc_id, (doc_id % 4) + 1 BETWEEN 2 AND 3 "
                                  "AS valid FROM documents"),
        "kw_additional_items": ("SELECT doc_id, doc_id % 2 <> 0 AS valid "
                                "FROM documents"),
    })
    out.update({
        "validate_flagship":
            f"SELECT doc_id, {flagship_valid} AS valid FROM documents",
        "violations_by_keyword": """
            SELECT 'pattern' AS keyword, count(*) AS n FROM documents WHERE doc_id % 7 = 0
            UNION ALL
            SELECT 'number_gte', count(*) FROM documents WHERE doc_id % 11 = 0
            UNION ALL
            SELECT 'required', count(*) FROM documents WHERE doc_id % 13 = 0
        """,
        "validate_events_props": """
            SELECT event_id,
                   CAST(regexp_extract(props, '"k": (-?\\d+)', 1) AS INT) BETWEEN 5 AND 90 AS valid
            FROM events
        """,
        "kw_type_union": "SELECT doc_id, doc_id % 3 <> 1 AS valid FROM documents",
        "kw_anyof": ("SELECT doc_id, n_chars >= 300 OR lang = 'en' AS valid "
                     "FROM documents"),
        "kw_oneof": ("SELECT doc_id, (n_chars % 2 = 0) <> (n_chars % 3 = 0) AS valid "
                     "FROM documents"),
        "kw_items_unique": ("SELECT doc_id, n_chars >= 100 AND doc_id % 6 <> 0 "
                            "AS valid FROM documents"),
        "kw_dependencies": ("SELECT doc_id, (doc_id % 2 <> 0 OR doc_id % 3 = 0) AS valid "
                            "FROM documents"),
        "kw_if_then_else": """
            SELECT doc_id,
                   CASE WHEN lang = 'en' THEN n_chars >= 200 ELSE n_chars <= 400 END AS valid
            FROM documents
        """,
        "column_profile_n_chars": """
            SELECT count(n_chars) AS n, min(n_chars) AS min_v, max(n_chars) AS max_v,
                   round(avg(n_chars), 6) AS avg_v,
                   round(stddev_samp(n_chars), 6) AS stddev_v,
                   round(quantile_cont(n_chars, 0.25), 6) AS p25,
                   round(quantile_cont(n_chars, 0.50), 6) AS p50,
                   round(quantile_cont(n_chars, 0.75), 6) AS p75
            FROM documents
        """,
        "uniqueness_events_user": """
            SELECT count(*) AS n_rows, count(DISTINCT user_id) AS n_distinct FROM events
        """,
        "referential_orphans": """
            SELECT user_id, count(*) AS n_orphans
            FROM events
            WHERE user_id NOT IN (SELECT c_custkey FROM customer WHERE c_custkey % 7 = 0)
            GROUP BY user_id
        """,
        "drift_lang_kl": """
            WITH half AS (SELECT max(doc_id) // 2 AS h FROM documents),
            p AS (SELECT lang, count(*) * 1.0 / (SELECT count(*) FROM documents, half WHERE doc_id <= h) AS p
                  FROM documents, half WHERE doc_id <= h GROUP BY lang),
            q AS (SELECT lang, count(*) * 1.0 / (SELECT count(*) FROM documents, half WHERE doc_id > h) AS q
                  FROM documents, half WHERE doc_id > h GROUP BY lang)
            SELECT round(sum(p.p * ln(p.p / q.q)), 6) AS kl_divergence
            FROM p JOIN q USING (lang)
        """,
        "drift_nchars_hist": """
            WITH half AS (SELECT max(doc_id) // 2 AS h FROM documents),
            p AS (SELECT floor(n_chars / 100) AS bucket, count(*) * 1.0 /
                      (SELECT count(*) FROM documents, half WHERE doc_id <= h) AS p
                  FROM documents, half WHERE doc_id <= h GROUP BY 1),
            q AS (SELECT floor(n_chars / 100) AS bucket, count(*) * 1.0 /
                      (SELECT count(*) FROM documents, half WHERE doc_id > h) AS q
                  FROM documents, half WHERE doc_id > h GROUP BY 1)
            SELECT round(sum(p.p * ln(p.p / q.q)), 6) AS kl_divergence
            FROM p JOIN q USING (bucket)
        """,
        "lang_id": """
            WITH s AS (
                SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents
            ), c AS (
                SELECT doc_id,
                    CAST((length(p) - length(replace(p, ' the ', ''))) / 5 AS INT)
                  + CAST((length(p) - length(replace(p, ' and ', ''))) / 5 AS INT)
                  + CAST((length(p) - length(replace(p, ' of ', ''))) / 4 AS INT) AS s_en,
                    CAST((length(p) - length(replace(p, ' der ', ''))) / 5 AS INT)
                  + CAST((length(p) - length(replace(p, ' und ', ''))) / 5 AS INT)
                  + CAST((length(p) - length(replace(p, ' die ', ''))) / 5 AS INT) AS s_de,
                    CAST((length(p) - length(replace(p, ' le ', ''))) / 4 AS INT)
                  + CAST((length(p) - length(replace(p, ' et ', ''))) / 4 AS INT)
                  + CAST((length(p) - length(replace(p, ' les ', ''))) / 5 AS INT) AS s_fr,
                    CAST((length(p) - length(replace(p, ' el ', ''))) / 4 AS INT)
                  + CAST((length(p) - length(replace(p, ' y ', ''))) / 3 AS INT)
                  + CAST((length(p) - length(replace(p, ' los ', ''))) / 5 AS INT) AS s_es,
                    CAST(length(p) - length(replace(p, '的', '')) AS INT)
                  + CAST(length(p) - length(replace(p, '了', '')) AS INT)
                  + CAST(length(p) - length(replace(p, '是', '')) AS INT) AS s_zh
                FROM s
            )
            SELECT doc_id,
                   CASE WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) <= 0 THEN 'und'
                        WHEN s_en >= greatest(s_de, s_fr, s_es, s_zh) THEN 'en'
                        WHEN s_de >= greatest(s_fr, s_es, s_zh) THEN 'de'
                        WHEN s_fr >= greatest(s_es, s_zh) THEN 'fr'
                        WHEN s_es >= s_zh THEN 'es'
                        ELSE 'zh' END AS lang_guess
            FROM c
        """,
        "dedup_exact": """
            WITH corpus AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
            )
            SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
                   count(*) AS n_dups
            FROM corpus GROUP BY 1 HAVING count(*) >= 2
        """,
        "text_token_count": """
            SELECT doc_id, len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS n_tokens
            FROM documents
        """,
        "text_quality": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS ts
                FROM documents
            )
            SELECT doc_id, len(ts) AS n_tokens,
                   round(len(list_filter(ts, t -> lower(t) IN
                       ('the','a','and','of','to','in','is','it','that','for')))
                       * 1.0 / greatest(len(ts), 1), 6) AS stop_ratio,
                   round(list_sum(list_transform(ts, t -> len(t)))
                       * 1.0 / greatest(len(ts), 1), 6) AS mean_tok_len
            FROM toks
        """,
        "fingerprint": """
            SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
            FROM documents
        """,
        "ann_cosine_topk": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(qv AS DOUBLE[])) /
                         (greatest(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 1e-12) *
                          greatest(sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[]))), 1e-12)), 6) AS cosine
            FROM embeddings, q
            ORDER BY cosine DESC, vec_id ASC
            LIMIT 10
        """,
        "ann_ivf_topk": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(qv AS DOUBLE[])) /
                         (greatest(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 1e-12) *
                          greatest(sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[]))), 1e-12)), 6) AS cosine
            FROM embeddings, q
            ORDER BY cosine DESC, vec_id ASC
            LIMIT 10
        """,
        "agg_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_qty,
                   round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_base_price,
                   round(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) *
                       (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
                       AS DECIMAL(28,8))) AS DOUBLE), 2) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate < '1998-09-01'
            GROUP BY l_returnflag, l_linestatus
        """,
        "join_top_orders": """
            WITH rev AS (
                SELECT l_orderkey,
                       sum(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) *
                           (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
                           AS DECIMAL(28,8))) AS r
                FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                WHERE c_mktsegment = 'BUILDING'
                GROUP BY l_orderkey
                ORDER BY r DESC, l_orderkey
                LIMIT 10)
            SELECT l_orderkey, round(CAST(r AS DOUBLE), 2) AS revenue FROM rev
        """,
        "window_user_gaps": """
            WITH g AS (
                SELECT user_id,
                       epoch(ts) - epoch(lag(ts) OVER
                           (PARTITION BY user_id ORDER BY ts, event_id)) AS gap
                FROM events)
            SELECT user_id, round(avg(gap), 6) AS avg_gap_sec,
                   count(gap) AS n_gaps
            FROM g GROUP BY user_id
        """,
        "rollup_hourly_events": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n, round(sum(value), 6) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "dedup_embedding": """
            WITH corpus AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
                UNION ALL
                SELECT vec_id + 1000000,
                       list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.001)
                FROM embeddings WHERE vec_id % 20 = 0
            ), scored AS (
                SELECT c1.vec_id AS a, c2.vec_id AS b,
                       round(list_dot_product(c1.v, c2.v) /
                             (greatest(sqrt(list_dot_product(c1.v, c1.v)), 1e-12) *
                              greatest(sqrt(list_dot_product(c2.v, c2.v)), 1e-12)), 6)
                           AS cosine
                FROM corpus c1 JOIN corpus c2 ON c1.vec_id < c2.vec_id
            )
            SELECT a, b, cosine FROM scored WHERE cosine >= 0.99
        """,
        "validate_variant":
            f"SELECT doc_id, {flagship_valid} AS valid FROM documents",
        "sessionize_events": """
            WITH g AS (
                SELECT user_id, event_id, ts,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                            THEN 1 ELSE 0 END AS new_s
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), s AS (
                SELECT user_id, ts,
                       sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) AS session_id
                FROM g
            )
            SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
                   strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
                   count(*) AS n_events
            FROM s GROUP BY 1, 2
        """,
        "ann_ivf_pruned": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(qv AS DOUBLE[])) /
                         (greatest(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 1e-12) *
                          greatest(sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[]))), 1e-12)), 6) AS cosine
            FROM embeddings, q
            ORDER BY cosine DESC, vec_id ASC
            LIMIT 10
        """,
        "bucketed_join_agg": """
            SELECT o_custkey AS custkey, c_mktsegment,
                   count(*) AS n_orders,
                   round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2)
                       AS sum_total
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1, 2
        """,
        "skew_salted_counts": """
            SELECT lang, count(*) AS n FROM documents GROUP BY lang
        """,
        "multimodal_features": """
            SELECT CAST(doc_id AS VARCHAR) AS key,
                   array_to_string(list_transform(generate_series(1, 8),
                       i -> ('0x' || substr(md5(text), 2*i-1, 2))::INT::VARCHAR),
                       ',') AS feature_csv,
                   octet_length(encode(text)) AS n_bytes
            FROM documents
        """,
        "dup_paragraphs": r"""
            WITH paras AS (
              SELECT doc_id, unnest(plist) AS para
              FROM (
                SELECT doc_id,
                       list_filter(
                         list_transform(
                           string_split_regex(
                             array_to_string(string_split(text, ' ')[1:5], ' ')
                               || chr(10) || chr(10) || text,
                             '\n{2,}'),
                           p -> trim(regexp_replace(lower(p), '\s+', ' ', 'g'))),
                         p -> length(p) >= 16) AS plist
                FROM documents)
            )
            SELECT md5(para) AS fp, count(*) AS n_dups,
                   count(DISTINCT doc_id) AS n_docs
            FROM paras GROUP BY fp
            HAVING count(DISTINCT doc_id) >= 2
        """,
        "repetition_stats": r"""
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\s+'),
                                 w -> w <> '') AS toks
              FROM documents
            ),
            g AS (
              SELECT doc_id, toks,
                     list_transform(generate_series(1, greatest(len(toks)-1, 0)),
                                    i -> toks[i] || ' ' || toks[i+1]) AS grams
              FROM t
            )
            SELECT doc_id,
              CASE WHEN len(toks) > 0 THEN
                (len(toks) - len(list_distinct(toks))) / len(toks)
                ELSE 0.0 END AS dup_line_frac,
              CASE WHEN coalesce(list_sum(list_transform(toks, v -> length(v))), 0) > 0 THEN
                list_sum(list_transform(list_distinct(toks),
                     v -> length(v) * (len(list_filter(toks, x -> x = v)) - 1)))
                  / list_sum(list_transform(toks, v -> length(v)))
                ELSE 0.0 END AS dup_line_char_frac,
              CASE WHEN coalesce(list_sum(list_transform(grams, gg -> length(gg))), 0) > 0 THEN
                list_max(list_transform(list_distinct(grams),
                     gg -> length(gg) * len(list_filter(grams, x -> x = gg))))
                  / list_sum(list_transform(grams, gg -> length(gg)))
                ELSE 0.0 END AS top_bigram_char_frac
            FROM g
        """,
        "repetition_ngrams": r"""
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\s+'),
                                 w -> w <> '') AS toks
              FROM documents
            ), g AS (
              SELECT doc_id,
                list_transform(generate_series(1, greatest(len(toks)-2, 0)),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS g3,
                list_transform(generate_series(1, greatest(len(toks)-4, 0)),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                       || ' ' || toks[i+3] || ' ' || toks[i+4]) AS g5
              FROM t
            )
            SELECT doc_id,
              CASE WHEN coalesce(list_sum(list_transform(g3,
                       x -> length(x))), 0) > 0 THEN
                list_max(list_transform(list_distinct(g3),
                    x -> length(x) * len(list_filter(g3, y -> y = x))))
                  * 1.0 / list_sum(list_transform(g3, x -> length(x)))
                ELSE 0.0 END AS top_3gram_char_frac,
              CASE WHEN coalesce(list_sum(list_transform(g5,
                       x -> length(x))), 0) > 0 THEN
                list_sum(list_transform(list_distinct(g5),
                    x -> length(x) * (len(list_filter(g5, y -> y = x)) - 1)))
                  * 1.0 / list_sum(list_transform(g5, x -> length(x)))
                ELSE 0.0 END AS dup_5gram_char_frac
            FROM g
        """,
        "contamination": r"""
            WITH grams AS (
              SELECT doc_id, unnest(glist) AS g
              FROM (
                SELECT doc_id,
                       list_distinct(list_transform(
                         generate_series(1, greatest(len(toks) - 12, 0)),
                         i -> array_to_string(toks[i:i+12], ' '))) AS glist
                FROM (
                  SELECT doc_id,
                         list_filter(string_split_regex(lower(text), '\W+'),
                                     t -> t <> '') AS toks
                  FROM documents))
            ),
            bench AS (
              SELECT DISTINCT g FROM grams WHERE doc_id < 10
            )
            SELECT grams.doc_id, count(*) AS n_contaminated_ngrams
            FROM grams JOIN bench USING (g)
            GROUP BY grams.doc_id
        """,
        "multischema_kinds": """
            SELECT doc_id,
                   CASE CAST(doc_id % 3 AS INT)
                     WHEN 0 THEN (doc_id % 5 <> 0 AND length(source) >= 3)
                     WHEN 1 THEN (doc_id % 7 - 3) >= 0
                     ELSE doc_id % 4 = 0
                   END AS valid
            FROM documents
        """,
        "token_count_bpe": """
            SELECT doc_id,
                   len(regexp_extract_all(text,
                     '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\\sA-Za-z0-9]+|\\s+')) AS n_bpe_tokens
            FROM documents
        """,
        # minhash_lsh_pairs / simhash: the verified pair set at threshold
        # 1.0 equals the md5(normalized_text) duplicate groups (recall 1.0
        # at exact similarity is guaranteed by banded LSH / signature
        # equality; the Jaccard-1.0 verifier removes near-dup candidates)
        "minhash_lsh_pairs": _EXACT_PAIR_ORACLE,
        "simhash": _EXACT_PAIR_ORACLE,
        "frequent_items": """
            SELECT event_type AS value, count(*) AS n
            FROM events GROUP BY event_type
            ORDER BY n DESC, value ASC LIMIT 5
        """,
        "semi_anti_orders": """
            SELECT o_orderpriority,
                   count(*) FILTER (WHERE EXISTS (
                       SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'))
                       AS n_with_returns,
                   count(*) FILTER (WHERE NOT EXISTS (
                       SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'))
                       AS n_without
            FROM orders GROUP BY 1
        """,
        "gopher_filter": r"""
            WITH t AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(lower(text), '\s+'),
                                 w -> w <> '') AS toks
              FROM documents
            ), g AS (
              SELECT doc_id, text, toks,
                     list_transform(generate_series(1, greatest(len(toks)-1, 0)),
                                    i -> toks[i] || ' ' || toks[i+1]) AS grams
              FROM t
            ), m AS (
              SELECT doc_id,
                     len(toks) AS n_tok,
                     round(list_sum(list_transform(toks, v -> length(v))) * 1.0
                           / greatest(len(toks), 1), 6) AS mean_len,
                     len(regexp_extract_all(text, '#|\.\.\.')) AS n_sym,
                     len(list_filter(['join','hash','row','batch','scan'],
                                     w -> list_contains(toks, w))) AS stop_hits,
                     CASE WHEN len(toks) > 0 THEN
                         (len(toks) - len(list_distinct(toks))) * 1.0 / len(toks)
                       ELSE 0.0 END AS dup_frac,
                     CASE WHEN coalesce(list_sum(list_transform(grams,
                              gg -> length(gg))), 0) > 0 THEN
                         list_max(list_transform(list_distinct(grams),
                             gg -> length(gg) * len(list_filter(grams,
                                                                x -> x = gg))))
                           * 1.0 / list_sum(list_transform(grams,
                                                           gg -> length(gg)))
                       ELSE 0.0 END AS big_frac
              FROM g
            )
            SELECT doc_id,
                   n_tok BETWEEN 20 AND 100000 AS ok_word_count,
                   mean_len BETWEEN 3.0 AND 10.0 AS ok_mean_word_len,
                   n_sym * 1.0 / greatest(n_tok, 1) <= 0.1 AS ok_symbol_ratio,
                   stop_hits >= 3 AS ok_stopwords,
                   dup_frac <= 0.30 AS ok_dup_lines,
                   big_frac <= 0.20 AS ok_top_bigram,
                   (n_tok BETWEEN 20 AND 100000)
                     AND (mean_len BETWEEN 3.0 AND 10.0)
                     AND (n_sym * 1.0 / greatest(n_tok, 1) <= 0.1)
                     AND (stop_hits >= 3) AND (dup_frac <= 0.30)
                     AND (big_frac <= 0.20) AS keep
            FROM m
        """,
        "multischema_violations": """
            WITH r AS (SELECT doc_id, CAST(doc_id % 3 AS INT) AS k
                       FROM documents)
            SELECT kind, keyword, n FROM (
                SELECT 'article' AS kind, 'required' AS keyword,
                       count(*) AS n FROM r WHERE k = 0 AND doc_id % 5 = 0
                UNION ALL
                SELECT 'product', 'number_gte', count(*)
                FROM r WHERE k = 1 AND doc_id % 7 < 3
                UNION ALL
                SELECT 'metric', 'multiple_of', count(*)
                FROM r WHERE k = 2 AND doc_id % 4 <> 0
            ) WHERE n > 0
        """,
        # day-2 incremental dedup: the new crawl keeps a row iff its
        # normalized-text fp is absent from the prior run's store AND it
        # is the min-keyed member of its within-batch fp group. The
        # minhash row shares this oracle: at threshold 1.0 a drop needs
        # all 64 lanes equal == normalized-text identity on this corpus.
        "exact_dedup_incremental": _INCREMENTAL_ORACLE,
        "exact_dedup_incremental_bloom": _INCREMENTAL_ORACLE,
        "minhash_dedup_incremental": _INCREMENTAL_ORACLE,
        "embedding_dedup_incremental": """
            WITH old AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings WHERE vec_id % 2 = 0
            ), new AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings WHERE vec_id % 2 = 1
                UNION ALL
                SELECT vec_id + 1000000,
                       list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.001)
                FROM embeddings WHERE vec_id % 20 = 0
                UNION ALL
                SELECT vec_id + 2000000,
                       list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.001)
                FROM embeddings WHERE vec_id % 20 = 1
            )
            SELECT n.vec_id FROM new n
            WHERE NOT EXISTS (
                SELECT 1 FROM old o
                WHERE round(list_dot_product(n.v, o.v) /
                      (greatest(sqrt(list_dot_product(n.v, n.v)), 1e-12) *
                       greatest(sqrt(list_dot_product(o.v, o.v)), 1e-12)), 6) >= 0.99)
              AND NOT EXISTS (
                SELECT 1 FROM new m
                WHERE m.vec_id < n.vec_id
                  AND round(list_dot_product(n.v, m.v) /
                      (greatest(sqrt(list_dot_product(n.v, n.v)), 1e-12) *
                       greatest(sqrt(list_dot_product(m.v, m.v)), 1e-12)), 6) >= 0.99)
        """,
        "drift_lang_psi": """
            WITH half AS (SELECT max(doc_id) // 2 AS h FROM documents),
            p AS (SELECT lang, count(*) * 1.0 / (SELECT count(*) FROM documents, half WHERE doc_id <= h) AS p
                  FROM documents, half WHERE doc_id <= h GROUP BY lang),
            q AS (SELECT lang, count(*) * 1.0 / (SELECT count(*) FROM documents, half WHERE doc_id > h) AS q
                  FROM documents, half WHERE doc_id > h GROUP BY lang)
            SELECT round(sum((p.p - q.q) * ln(p.p / q.q)), 6) AS psi
            FROM p JOIN q USING (lang)
        """,
        "drift_lang_js": """
            WITH p AS (SELECT lang, count(*) * 1.0 / (SELECT count(*) FROM documents) AS p
                       FROM documents GROUP BY lang),
            q AS (SELECT lang, count(*) * 1.0 /
                      (SELECT count(*) FROM documents WHERE lang <> 'de') AS q
                  FROM documents WHERE lang <> 'de' GROUP BY lang),
            j AS (SELECT coalesce(p.p, 0.0) AS p, coalesce(q.q, 0.0) AS q
                  FROM p FULL OUTER JOIN q USING (lang))
            SELECT round(sum(
                CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2)) ELSE 0 END +
                CASE WHEN q > 0 THEN q * ln(q / ((p + q) / 2)) ELSE 0 END
            ) / 2, 6) AS js_divergence
            FROM j
        """,
        "asof_join_events": """
            WITH r AS (
                SELECT user_id, ts, max(event_id) AS cp
                FROM events WHERE event_id % 10 = 0
                GROUP BY user_id, ts
            )
            SELECT e.event_id, e.user_id,
                   coalesce(r.cp, -1) AS asof_cp
            FROM events e
            ASOF LEFT JOIN r ON e.user_id = r.user_id AND e.ts >= r.ts
        """,
        "range_join_events": """
            WITH iv AS (
                SELECT user_id, event_id AS cp_id, ts AS ws,
                       ts + INTERVAL 600 SECOND AS we
                FROM events WHERE event_id % 20 = 0
            )
            SELECT e.event_id, iv.cp_id
            FROM events e JOIN iv
              ON e.user_id = iv.user_id AND e.ts BETWEEN iv.ws AND iv.we
        """,
        "topk_per_group": """
            SELECT event_id, user_id, value FROM (
                SELECT event_id, user_id, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY value DESC, event_id) AS rn
                FROM events
            ) WHERE rn <= 3
        """,
        "group_sample": """
            SELECT event_id, user_id FROM (
                SELECT event_id, user_id,
                       row_number() OVER (
                           PARTITION BY user_id
                           ORDER BY md5(CAST(event_id AS VARCHAR) || '|7'),
                                    event_id) AS rn
                FROM events
            ) WHERE rn <= 5
        """,
        "drift_nchars_ks": """
            WITH half AS (SELECT max(doc_id) // 2 AS h FROM documents),
            p AS (SELECT floor(n_chars / 100) AS bucket, count(*) * 1.0 /
                      (SELECT count(*) FROM documents, half WHERE doc_id <= h) AS p
                  FROM documents, half WHERE doc_id <= h GROUP BY 1),
            q AS (SELECT floor(n_chars / 100) AS bucket, count(*) * 1.0 /
                      (SELECT count(*) FROM documents, half WHERE doc_id > h) AS q
                  FROM documents, half WHERE doc_id > h GROUP BY 1),
            j AS (SELECT coalesce(p.bucket, q.bucket) AS bucket,
                         coalesce(p.p, 0.0) AS p, coalesce(q.q, 0.0) AS q
                  FROM p FULL OUTER JOIN q ON p.bucket = q.bucket)
            SELECT round(max(d), 6) AS ks_statistic FROM (
                SELECT abs(sum(p) OVER w - sum(q) OVER w) AS d
                FROM j WINDOW w AS (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
            )
        """,
        # analytic expectation (independent of the Spark regex chain):
        # the in-query markup reduces to 'Doc <id> "<text>" end'
        "html_extract": """
            SELECT doc_id,
                   'Doc ' || doc_id || ' "' || text || '" end' AS extracted
            FROM documents
        """,
        "html_links": """
            SELECT doc_id,
                   'https://' || lang || '.example.com/d/' || doc_id ||
                   '?s=' || source || '&v=1' AS link
            FROM documents
            UNION ALL
            SELECT doc_id, '/rel/' || (doc_id % 7) AS link FROM documents
        """,
        # each URL component stated analytically from the construction,
        # independent of parse_url's regexes
        "url_parse": """
            SELECT doc_id,
                   'https' AS scheme,
                   'u' || doc_id AS userinfo,
                   'host' || (doc_id % 50) || '.example.com' AS host,
                   CASE WHEN doc_id % 4 = 0 THEN 8443 ELSE -1 END AS port,
                   '/p/' || doc_id AS path,
                   CASE WHEN doc_id % 3 = 0 THEN 'b=2&a=' || lang
                        ELSE '' END AS "query",
                   CASE WHEN doc_id % 5 = 0 THEN 's' ELSE '' END AS fragment
            FROM documents
        """,
        "url_normalize": """
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0 THEN
                       'https://host' || (doc_id % 50) || '.web' ||
                       (doc_id % 5) || '.co.uk/a/p' || doc_id ||
                       '?a=' || lang || '&z=1'
                   ELSE
                       'http://host' || (doc_id % 50) || '.web' ||
                       (doc_id % 5) || '.co.uk/?a=1&b=2'
                   END AS norm_url,
                   'web' || (doc_id % 5) || '.co.uk' AS domain
            FROM documents
        """,
        # analytic edge set: absolute -> (i+1)%20, protocol-relative ->
        # (3i)%20 (self-colliding when i%10=0, excluded), root-relative
        # resolves to the source host (always excluded)
        "host_degrees": """
            WITH e0 AS (
                SELECT 'h' || (doc_id % 20) || '.ex.com' AS src,
                       'h' || ((doc_id + 1) % 20) || '.ex.com' AS dst
                FROM documents
                UNION ALL
                SELECT 'h' || (doc_id % 20) || '.ex.com',
                       'h' || ((doc_id * 3) % 20) || '.ex.com'
                FROM documents
            ), e AS (
                SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
                FROM e0 WHERE src <> dst GROUP BY src, dst
            ), o AS (
                SELECT src AS host, CAST(COUNT(*) AS BIGINT) AS out_degree,
                       CAST(SUM(n) AS BIGINT) AS out_links
                FROM e GROUP BY src
            ), i AS (
                SELECT dst AS host, CAST(COUNT(*) AS BIGINT) AS in_degree,
                       CAST(SUM(n) AS BIGINT) AS in_links
                FROM e GROUP BY dst
            )
            SELECT COALESCE(o.host, i.host) AS host,
                   COALESCE(out_degree, 0) AS out_degree,
                   COALESCE(out_links, 0) AS out_links,
                   COALESCE(in_degree, 0) AS in_degree,
                   COALESCE(in_links, 0) AS in_links
            FROM o FULL OUTER JOIN i ON o.host = i.host
        """,
        # the PageRank recurrence unrolled for exactly 3 iterations:
        # r'(v) = (1-d)/N + d*(inflow(v) + dangling/N), d = 0.85
        "pagerank_hosts": """
            WITH e0 AS (
                SELECT lang AS src, source AS dst,
                       CAST(COUNT(*) AS DOUBLE) AS w
                FROM documents GROUP BY lang, source
                UNION ALL
                SELECT source, lang, CAST(COUNT(*) AS DOUBLE)
                FROM documents WHERE doc_id % 2 = 0 GROUP BY source, lang
            ), outw AS (
                SELECT src, SUM(w) AS tw FROM e0 GROUP BY src
            ), e AS (
                SELECT e0.src, e0.dst, e0.w / outw.tw AS frac
                FROM e0 JOIN outw ON e0.src = outw.src
            ), nodes AS (
                SELECT DISTINCT h AS host FROM (
                    SELECT src AS h FROM e0
                    UNION SELECT dst FROM e0)
            ), nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS cnt FROM nodes),
            r0 AS (SELECT host, 1.0 / cnt AS r FROM nodes CROSS JOIN nn),
            d0 AS (SELECT COALESCE(SUM(r), 0) AS dang FROM r0
                   WHERE host NOT IN (SELECT src FROM outw)),
            c0 AS (SELECT e.dst AS host, SUM(r0.r * e.frac) AS inflow
                   FROM e JOIN r0 ON e.src = r0.host GROUP BY e.dst),
            r1 AS (SELECT n.host, 0.15 / nn.cnt + 0.85 *
                          (COALESCE(c0.inflow, 0) + d0.dang / nn.cnt) AS r
                   FROM nodes n CROSS JOIN nn CROSS JOIN d0
                   LEFT JOIN c0 ON c0.host = n.host),
            d1 AS (SELECT COALESCE(SUM(r), 0) AS dang FROM r1
                   WHERE host NOT IN (SELECT src FROM outw)),
            c1 AS (SELECT e.dst AS host, SUM(r1.r * e.frac) AS inflow
                   FROM e JOIN r1 ON e.src = r1.host GROUP BY e.dst),
            r2 AS (SELECT n.host, 0.15 / nn.cnt + 0.85 *
                          (COALESCE(c1.inflow, 0) + d1.dang / nn.cnt) AS r
                   FROM nodes n CROSS JOIN nn CROSS JOIN d1
                   LEFT JOIN c1 ON c1.host = n.host),
            d2 AS (SELECT COALESCE(SUM(r), 0) AS dang FROM r2
                   WHERE host NOT IN (SELECT src FROM outw)),
            c2 AS (SELECT e.dst AS host, SUM(r2.r * e.frac) AS inflow
                   FROM e JOIN r2 ON e.src = r2.host GROUP BY e.dst),
            r3 AS (SELECT n.host, 0.15 / nn.cnt + 0.85 *
                          (COALESCE(c2.inflow, 0) + d2.dang / nn.cnt) AS r
                   FROM nodes n CROSS JOIN nn CROSS JOIN d2
                   LEFT JOIN c2 ON c2.host = n.host)
            SELECT host, ROUND(r, 7) AS rank FROM r3
        """,
        # the surviving lines, sentence count and page verdict stated
        # analytically from the staged construction
        "c4_filter": """
            SELECT doc_id,
                   text || ' ok. It works well. It ends fine.'
                   || CASE WHEN doc_id % 9 = 0
                           THEN chr(10) || 'lorem ipsum dolor sit amet here.'
                           ELSE '' END
                   || CASE WHEN doc_id % 11 = 0
                           THEN chr(10) ||
                                'code with brace { inside this line.'
                           ELSE '' END AS clean_text,
                   3 + CASE WHEN doc_id % 9 = 0 THEN 1 ELSE 0 END
                     + CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END
                       AS n_sentences,
                   (doc_id % 9 <> 0 AND doc_id % 11 <> 0) AS keep
            FROM documents
        """,
        # verdict truth table from the (host residue, path residue)
        # construction — independent of the parser and matcher
        "robots_allowed": """
            SELECT doc_id,
                   'https://h' || (doc_id % 20) || '.ex.com' ||
                   CASE doc_id % 4
                       WHEN 0 THEN '/public/a'
                       WHEN 1 THEN '/private/x'
                       WHEN 2 THEN '/private/ok/y'
                       ELSE '/data/f.json' END AS url,
                   CASE (doc_id % 20) % 3
                       WHEN 0 THEN doc_id % 4 <> 1
                       WHEN 1 THEN FALSE
                       ELSE doc_id % 4 <> 3 END AS allowed
            FROM documents
        """,
        # status counts straight from the residue arithmetic: old =
        # %3<>0, new = %5<>1, drift = %7=0; a host appears iff it has a
        # doc in either crawl
        "crawl_diff": """
            SELECT 'h' || (doc_id % 20) || '.ex.com' AS host,
                   CAST(SUM(CASE WHEN doc_id % 3 = 0 AND doc_id % 5 <> 1
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
                   CAST(SUM(CASE WHEN doc_id % 3 <> 0 AND doc_id % 5 = 1
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
                   CAST(SUM(CASE WHEN doc_id % 3 <> 0 AND doc_id % 5 <> 1
                                  AND doc_id % 7 = 0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
                   CAST(SUM(CASE WHEN doc_id % 3 <> 0 AND doc_id % 5 <> 1
                                  AND doc_id % 7 <> 0
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_unchanged
            FROM documents
            WHERE doc_id % 3 <> 0 OR doc_id % 5 <> 1
            GROUP BY host
        """,
        "token_vocab": """
            SELECT token, CAST(COUNT(*) AS BIGINT) AS n
            FROM (
                SELECT unnest(regexp_split_to_array(lower(text),
                                                    '\\s+')) AS token
                FROM documents
            ) WHERE token <> ''
            GROUP BY token
            ORDER BY n DESC, token ASC
            LIMIT 100
        """,
        # same md5 bucket arithmetic over the same key bytes: first 8
        # hex chars -> int -> % 1000, cut at 800/900
        "hash_split": """
            SELECT doc_id,
                   CASE WHEN b < 800 THEN 'train'
                        WHEN b < 900 THEN 'val'
                        ELSE 'test' END AS split
            FROM (
                SELECT doc_id,
                       ('0x' || substr(md5(doc_id || '|7'), 1, 8))::BIGINT
                       % 1000 AS b
                FROM documents)
        """,
        "warc_ingest": """
            SELECT doc_id, text,
                   strftime(TIMESTAMP '2025-01-01 00:00:00'
                            + doc_id * INTERVAL 1 SECOND,
                            '%Y-%m-%d %H:%M:%S') AS ts
            FROM documents
        """,
        # the repaired text must equal direct substitution of the CLEAN
        # characters — é for a, ’ for e
        "fix_mojibake": """
            SELECT doc_id,
                   replace(replace(text, 'a', 'é'), 'e', '’') AS fixed
            FROM documents
        """,
        "bpe_pairs": """
            WITH words AS (
                SELECT token AS word, COUNT(*) AS freq
                FROM (
                    SELECT unnest(regexp_split_to_array(lower(text),
                                                        '\\s+')) AS token
                    FROM documents
                ) WHERE token <> ''
                GROUP BY token
            )
            SELECT substring(word, i, 1) AS left,
                   substring(word, i + 1, 1) AS right,
                   CAST(SUM(freq) AS BIGINT) AS n
            FROM words,
                 UNNEST(generate_series(1, length(word) - 1)) AS t(i)
            GROUP BY 1, 2
        """,
        "json_field_profile": """
            SELECT '$' AS path, 'object' AS jtype,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(-1 AS DOUBLE) AS min_num,
                   CAST(-1 AS DOUBLE) AS max_num,
                   CAST(-1 AS BIGINT) AS min_len,
                   CAST(-1 AS BIGINT) AS max_len
            FROM documents
            UNION ALL
            SELECT '$.id', 'integer', CAST(COUNT(*) AS BIGINT),
                   CAST(MIN(doc_id) AS DOUBLE), CAST(MAX(doc_id) AS DOUBLE),
                   CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
            FROM documents
            UNION ALL
            SELECT '$.lang', 'string', CAST(COUNT(*) AS BIGINT),
                   CAST(-1 AS DOUBLE), CAST(-1 AS DOUBLE),
                   CAST(MIN(length(lang)) AS BIGINT),
                   CAST(MAX(length(lang)) AS BIGINT)
            FROM documents WHERE doc_id % 7 <> 0
            UNION ALL
            SELECT '$.meta', 'object', CAST(COUNT(*) AS BIGINT),
                   CAST(-1 AS DOUBLE), CAST(-1 AS DOUBLE),
                   CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
            FROM documents
            UNION ALL
            SELECT '$.meta.len', 'integer', CAST(COUNT(*) AS BIGINT),
                   CAST(MIN(n_chars) AS DOUBLE), CAST(MAX(n_chars) AS DOUBLE),
                   CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
            FROM documents
            UNION ALL
            SELECT '$.n', 'integer', CAST(COUNT(*) AS BIGINT),
                   CAST(MIN(n_chars) AS DOUBLE), CAST(MAX(n_chars) AS DOUBLE),
                   CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
            FROM documents
            UNION ALL
            SELECT '$.tags', 'array', CAST(COUNT(*) AS BIGINT),
                   CAST(-1 AS DOUBLE), CAST(-1 AS DOUBLE),
                   CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
            FROM documents
            UNION ALL
            SELECT '$.tags[*]', 'string', CAST(COUNT(*) AS BIGINT),
                   CAST(-1 AS DOUBLE), CAST(-1 AS DOUBLE),
                   CAST(MIN(length(source)) AS BIGINT),
                   CAST(MAX(length(source)) AS BIGINT)
            FROM documents
        """,
        "induced_schema_valid": """
            SELECT doc_id, doc_id < 1000000 AS valid
            FROM (SELECT doc_id FROM documents
                  UNION ALL
                  SELECT doc_id + 1000000 FROM documents)
        """,
        "schema_drift": """
            SELECT * FROM (VALUES
                ('$',          'unchanged'),
                ('$.extra',    'added'),
                ('$.id',       'bounds_widened'),
                ('$.lang',     'unchanged'),
                ('$.meta',     'unchanged'),
                ('$.meta.len', 'unchanged'),
                ('$.n',        'type_changed'),
                ('$.tags',     'removed'),
                ('$.tags[*]',  'removed')
            ) AS t(path, status)
        """,
        "normalize_nfc": """
            SELECT doc_id,
                   nfc_normalize(replace(text, 'e', 'e' || chr(769)))
                       AS nfc
            FROM documents
        """,
        "lm_score": """
            WITH toks0 AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(text),
                                                         '\\s+'),
                                   x -> x <> '') AS toks
                FROM documents
            ), pos AS (
                SELECT doc_id, len(toks) AS n_tokens, i, toks[i] AS word,
                       CASE WHEN i > 1 THEN toks[i - 1] END AS prev
                FROM toks0,
                     UNNEST(generate_series(1, len(toks))) AS t(i)
            ), train AS (
                SELECT * FROM pos WHERE doc_id % 4 = 0
            ), uni AS (
                SELECT word, COUNT(*) AS c FROM train GROUP BY word
            ), n_total AS (
                SELECT SUM(c) AS n FROM uni
            ), p_bg AS (
                SELECT bg.prev, bg.word, bg.c_bg * 1.0 / u.c AS p_bg
                FROM (SELECT prev, word, COUNT(*) AS c_bg FROM train
                      WHERE prev IS NOT NULL GROUP BY prev, word) bg
                JOIN uni u ON u.word = bg.prev
            ), scored AS (
                SELECT p.doc_id, p.n_tokens,
                       CASE WHEN p.i = 1 THEN
                           ln(coalesce(u.c * 1.0 / n_total.n,
                                       1.0 / n_total.n))
                       ELSE
                           ln(coalesce(pb.p_bg,
                               0.4 * coalesce(u.c * 1.0 / n_total.n,
                                              1.0 / n_total.n)))
                       END AS logp
                FROM pos p CROSS JOIN n_total
                LEFT JOIN p_bg pb
                    ON pb.prev = p.prev AND pb.word = p.word
                LEFT JOIN uni u ON u.word = p.word
            ), agg AS (
                SELECT doc_id, MAX(n_tokens) AS n_tokens,
                       SUM(logp) AS lp
                FROM scored GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
                   COALESCE(round(a.lp / a.n_tokens, 6), 0.0)
                       AS log_prob_per_token
            FROM documents d LEFT JOIN agg a USING (doc_id)
        """,
        "kmeans_assign": """
            WITH c AS (
                SELECT CAST(vec_id AS INT) AS cid,
                       CAST(embedding AS DOUBLE[]) AS cv
                FROM embeddings WHERE vec_id < 8
            ), d AS (
                SELECT e.vec_id, c.cid,
                       list_aggregate(
                           list_transform(
                               list_zip(CAST(e.embedding AS DOUBLE[]), c.cv),
                               p -> (p[1] - p[2]) * (p[1] - p[2])),
                           'sum') AS d2
                FROM embeddings e CROSS JOIN c
            ), ranked AS (
                SELECT vec_id, cid, d2,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY d2, cid) AS rn
                FROM d
            )
            SELECT vec_id, cid, round(greatest(d2, 0.0), 6) AS dist2
            FROM ranked WHERE rn = 1
        """,
        "semdedup": """
            WITH corpus AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings
                UNION ALL
                SELECT vec_id + 1000000,
                       list_transform(CAST(embedding AS DOUBLE[]),
                                      x -> x * 1.001)
                FROM embeddings WHERE vec_id % 20 = 0
            ), c AS (
                SELECT CAST(vec_id AS INT) AS cid,
                       CAST(embedding AS DOUBLE[]) AS cv
                FROM embeddings WHERE vec_id < 8
            ), d AS (
                SELECT corpus.vec_id, corpus.v, c.cid,
                       list_aggregate(
                           list_transform(list_zip(corpus.v, c.cv),
                                          p -> (p[1] - p[2]) * (p[1] - p[2])),
                           'sum') AS d2
                FROM corpus CROSS JOIN c
            ), assigned AS (
                SELECT vec_id, v, cid FROM (
                    SELECT *, row_number() OVER (PARTITION BY vec_id
                                                 ORDER BY d2, cid) AS rn
                    FROM d) WHERE rn = 1
            ), losers AS (
                SELECT DISTINCT b.vec_id
                FROM assigned a JOIN assigned b
                  ON a.cid = b.cid AND a.vec_id < b.vec_id
                WHERE round(list_dot_product(a.v, b.v) /
                            (greatest(sqrt(list_dot_product(a.v, a.v)), 1e-12) *
                             greatest(sqrt(list_dot_product(b.v, b.v)), 1e-12)),
                            6) >= 0.99
            )
            SELECT a.vec_id, a.cid,
                   (l.vec_id IS NULL) AS keep
            FROM assigned a LEFT JOIN losers l USING (vec_id)
        """,
        # FP expression shapes (parenthesization, literal sums like
        # (1.2 + 1.0)) mirror ops/search.py::_bm25_score exactly —
        # IEEE addition isn't associative, keep them matched.
        "bm25_topk": """
            WITH tok AS (
                SELECT doc_id,
                       list_transform(
                           regexp_extract_all(text, '[A-Za-z0-9]+'),
                           t -> lower(t)) AS toks
                FROM documents
            ), stats AS (
                SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                       avg(len(toks)) AS avgdl
                FROM tok
            ), posting AS (
                SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
                FROM tok
            ), cand AS (
                SELECT term, doc_id, dl, count(*) AS tf
                FROM posting
                WHERE term IN ('hash', 'join', 'spark', 'window')
                GROUP BY 1, 2, 3
            ), tdf AS (
                SELECT term, count(*) AS df FROM cand GROUP BY 1
            ), scored AS (
                SELECT c.doc_id,
                       ln(((s.n_docs - t.df + CAST(0.5 AS DOUBLE)) /
                           (t.df + CAST(0.5 AS DOUBLE))) + 1.0)
                       * (c.tf * (CAST(1.2 AS DOUBLE) + 1.0))
                       / (c.tf + CAST(1.2 AS DOUBLE) *
                          (CAST(0.25 AS DOUBLE) +
                           CAST(0.75 AS DOUBLE) * (c.dl / s.avgdl))) AS s
                FROM cand c JOIN tdf t USING (term), stats s
            )
            SELECT doc_id, round(sum(s), 6) AS bm25
            FROM scored GROUP BY doc_id
            ORDER BY bm25 DESC, doc_id LIMIT 25
        """,
        "repeated_spans": """
            WITH tok AS (
                SELECT doc_id,
                       CASE WHEN length(text) = 0
                            THEN CAST([] AS VARCHAR[])
                            ELSE string_split_regex(text, '\\s+') END AS toks
                FROM documents
            ), g AS (
                SELECT doc_id, len(toks) AS n_tokens,
                       CASE WHEN len(toks) >= 5
                            THEN list_transform(
                                range(1, len(toks) - 3),
                                i -> md5(array_to_string(toks[i:i+4], ' ')))
                            ELSE CAST([] AS VARCHAR[]) END AS grams
                FROM tok
            ), p AS (
                SELECT doc_id, unnest(grams) AS fp,
                       unnest(range(0, len(grams))) AS pos0
                FROM g
            ), c AS (
                SELECT fp FROM p GROUP BY fp HAVING count(*) >= 2
            ), hits AS (
                SELECT doc_id, list_sort(list(pos0)) AS dup_starts
                FROM p JOIN c USING (fp) GROUP BY doc_id
            ), j AS (
                SELECT g.doc_id, g.n_tokens,
                       coalesce(h.dup_starts, CAST([] AS BIGINT[])) AS ds
                FROM g LEFT JOIN hits h USING (doc_id)
            ), cov AS (
                SELECT doc_id, n_tokens, ds,
                       len(list_distinct(flatten(
                           list_transform(ds, s -> range(s, s + 5))))) AS mass
                FROM j
            )
            SELECT doc_id,
                   CAST(n_tokens AS BIGINT) AS n_tokens,
                   coalesce(array_to_string(
                       list_transform(ds, x -> CAST(x AS VARCHAR)),
                       ','), '') AS dup_starts,
                   CAST(len(ds) AS BIGINT) AS n_dup_grams,
                   CAST(mass AS BIGINT) AS dup_token_mass,
                   CASE WHEN n_tokens = 0 THEN 0.0
                        ELSE mass / n_tokens END AS dup_frac
            FROM cov
        """,
        "quality_clf": """
            WITH tok AS (
                SELECT doc_id,
                       unnest(string_split_regex(lower(text), '\\s+')) AS t
                FROM documents
            ), occ AS (
                SELECT doc_id,
                       ('0x' || substr(md5(t), 1, 8))::BIGINT % 4096 AS fid
                FROM tok WHERE t <> ''
            ), m AS (
                SELECT doc_id, SUM(fid % 1001 - 500) AS s
                FROM occ GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(m.s, 0) AS BIGINT) AS margin
            FROM documents d LEFT JOIN m USING (doc_id)
        """,
        "ppl_buckets": """
            WITH toks0 AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(text),
                                                         '\\s+'),
                                   x -> x <> '') AS toks
                FROM documents
            ), pos AS (
                SELECT doc_id, len(toks) AS n_tokens, i, toks[i] AS word,
                       CASE WHEN i > 1 THEN toks[i - 1] END AS prev
                FROM toks0,
                     UNNEST(generate_series(1, len(toks))) AS t(i)
            ), train AS (
                SELECT * FROM pos WHERE doc_id % 4 = 0
            ), uni AS (
                SELECT word, COUNT(*) AS c FROM train GROUP BY word
            ), n_total AS (
                SELECT SUM(c) AS n FROM uni
            ), p_bg AS (
                SELECT bg.prev, bg.word, bg.c_bg * 1.0 / u.c AS p_bg
                FROM (SELECT prev, word, COUNT(*) AS c_bg FROM train
                      WHERE prev IS NOT NULL GROUP BY prev, word) bg
                JOIN uni u ON u.word = bg.prev
            ), scored AS (
                SELECT p.doc_id, p.n_tokens,
                       CASE WHEN p.i = 1 THEN
                           ln(coalesce(u.c * 1.0 / n_total.n,
                                       1.0 / n_total.n))
                       ELSE
                           ln(coalesce(pb.p_bg,
                               0.4 * coalesce(u.c * 1.0 / n_total.n,
                                              1.0 / n_total.n)))
                       END AS logp
                FROM pos p CROSS JOIN n_total
                LEFT JOIN p_bg pb
                    ON pb.prev = p.prev AND pb.word = p.word
                LEFT JOIN uni u ON u.word = p.word
            ), agg AS (
                SELECT doc_id, MAX(n_tokens) AS n_tokens,
                       SUM(logp) AS lp
                FROM scored GROUP BY doc_id
            ), sc AS (
                SELECT d.doc_id, d.lang,
                       CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS w,
                       COALESCE(round(a.lp / a.n_tokens, 6), 0.0) AS lp
                FROM documents d LEFT JOIN agg a USING (doc_id)
            ), cum AS (
                SELECT doc_id, lang, lp, w,
                       CAST(SUM(w) OVER (
                           PARTITION BY lang
                           ORDER BY lp DESC, doc_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
                       CAST(SUM(w) OVER (PARTITION BY lang)
                            AS BIGINT) AS tot
                FROM sc
            )
            SELECT doc_id, lang, lp AS log_prob_per_token,
                   w AS weight, cw AS cum_weight,
                   CASE WHEN tot > 0 THEN cw * 1.0 / tot
                        ELSE 0.0 END AS share,
                   CASE WHEN tot = 0 OR cw * 1.0 / tot <= 1.0 / 3
                            THEN 'head'
                        WHEN cw * 1.0 / tot <= 2.0 / 3 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM cum
        """,
        "bpe_encode": _bpe12_oracle(),
        "lang_clf": """
            WITH tok AS (
                SELECT doc_id,
                       unnest(string_split_regex(lower(text), '\\s+')) AS t
                FROM documents
            ), occ AS (
                SELECT doc_id,
                       ('0x' || substr(md5(t), 1, 8))::BIGINT % 4096 AS fid
                FROM tok WHERE t <> ''
            ), w AS (
                SELECT f.range AS fid, c.range AS c,
                       ((f.range * (3 + 2 * c.range)) % 101) - 50 AS w
                FROM range(4096) f, range(3) c
            ), s AS (
                SELECT o.doc_id, w.c, SUM(w.w) AS s
                FROM occ o JOIN w ON w.fid = o.fid
                GROUP BY o.doc_id, w.c
            ), p AS (
                SELECT doc_id,
                       COALESCE(MAX(CASE WHEN c = 0 THEN s END), 0) AS m0,
                       COALESCE(MAX(CASE WHEN c = 1 THEN s END), 0) AS m1,
                       COALESCE(MAX(CASE WHEN c = 2 THEN s END), 0) AS m2
                FROM s GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(COALESCE(p.m0, 0) AS BIGINT) AS margin_0,
                   CAST(COALESCE(p.m1, 0) AS BIGINT) AS margin_1,
                   CAST(COALESCE(p.m2, 0) AS BIGINT) AS margin_2,
                   CASE WHEN COALESCE(p.m0, 0) >= COALESCE(p.m1, 0)
                             AND COALESCE(p.m0, 0) >= COALESCE(p.m2, 0)
                            THEN 'de'
                        WHEN COALESCE(p.m1, 0) >= COALESCE(p.m2, 0)
                            THEN 'en'
                        ELSE 'fr' END AS label
            FROM documents d LEFT JOIN p USING (doc_id)
        """,
        "exact_percentiles": """
            WITH c AS (
                SELECT lang, n_chars, doc_id,
                       CAST(SUM(1) OVER (
                           PARTITION BY lang
                           ORDER BY n_chars, doc_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
                       CAST(COUNT(*) OVER (PARTITION BY lang)
                            AS BIGINT) AS tot
                FROM documents
            )
            SELECT lang, q,
                   CAST(n_chars AS BIGINT) AS value,
                   cw AS cum_weight, tot AS total_weight
            FROM c CROSS JOIN (VALUES (0.25), (0.5), (0.9), (1.0))
                       AS qs(q)
            WHERE cw * 1.0 / tot >= q AND (cw - 1) * 1.0 / tot < q
        """,
        "host_rollup": """
            WITH base AS (
                SELECT source,
                       md5(trim(regexp_replace(lower(text), '\\s+', ' ',
                                               'g'))) AS fp,
                       len(list_filter(regexp_split_to_array(text,
                                                             '\\s+'),
                                       x -> x <> '')) AS n_tok
                FROM documents
            ), per_fp AS (
                SELECT source, fp, COUNT(*) AS cnt, SUM(n_tok) AS tok,
                       SUM(CASE WHEN n_tok < 40 THEN 1 ELSE 0 END)
                           AS short
                FROM base GROUP BY source, fp
            ), roll AS (
                SELECT source,
                       CAST(SUM(cnt) AS BIGINT) AS n_docs,
                       CAST(SUM(cnt - 1) AS BIGINT) AS dup_docs,
                       CAST(SUM(tok) AS BIGINT) AS sum_tok,
                       CAST(SUM(short) AS BIGINT) AS short_docs
                FROM per_fp GROUP BY source
            )
            SELECT source, n_docs, dup_docs,
                   dup_docs * 1.0 / n_docs AS dup_frac,
                   sum_tok * 1.0 / n_docs AS mean_tokens,
                   short_docs * 1.0 / n_docs AS short_frac,
                   CAST(CASE WHEN n_docs >= 5
                             AND dup_docs * 1.0 / n_docs <= 0.2
                             AND short_docs * 1.0 / n_docs <= 0.5
                             AND sum_tok * 1.0 / n_docs >= 20.0
                        THEN 1 ELSE 0 END AS BIGINT) AS keep
            FROM roll
        """,
        "anchor_texts": """
            WITH pairs AS (
                SELECT 'https://' || lang || '.example.com/t/'
                           || (doc_id % 10) AS target,
                       'read ' || source || ' now' AS anchor
                FROM documents
                UNION ALL
                SELECT 'https://hub.example.com/' || (doc_id % 3)
                           || '?a=1&b=2' AS target,
                       'hub ' || (doc_id % 2) AS anchor
                FROM documents
            ), c AS (
                SELECT target, anchor,
                       CAST(COUNT(*) AS BIGINT) AS n
                FROM pairs GROUP BY target, anchor
            ), r AS (
                SELECT target, anchor, n,
                       row_number() OVER (PARTITION BY target
                                          ORDER BY n DESC, anchor) AS rk
                FROM c
            )
            SELECT target, anchor, n FROM r WHERE rk <= 2
        """,
        "tfidf_sparse": """
            WITH tok AS (
                SELECT doc_id,
                       unnest(string_split_regex(lower(text), '\\s+')) AS t
                FROM documents
            ), occ AS (
                SELECT doc_id,
                       ('0x' || substr(md5(t), 1, 8))::BIGINT % 512 AS fid
                FROM tok WHERE t <> ''
            ), tf AS (
                SELECT doc_id, fid, CAST(COUNT(*) AS BIGINT) AS tf
                FROM occ GROUP BY doc_id, fid
            ), dfq AS (
                SELECT fid, COUNT(DISTINCT doc_id) AS df
                FROM occ GROUP BY fid
            ), n AS (
                SELECT COUNT(*) AS n FROM documents
            )
            SELECT t.doc_id, t.fid, t.tf,
                   round(t.tf * (ln((n.n + 1.0) / (d.df + 1.0)) + 1.0),
                         6) AS w
            FROM tf t JOIN dfq d USING (fid) CROSS JOIN n
        """,
    })
    return out
