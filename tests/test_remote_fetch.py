"""Live remote-$ref resolution through the compile-time fetcher hook.

Closes the last §2.1 gap (r4 VERDICT item 4): the reference fetches
unregistered canonical refs over HTTP (jsonLoader.go:180-204) and its
test suite serves testdata/remotes/ on localhost:1234
(jsonschema_test.go:129-135). These tests serve, over a local
ephemeral-port HTTP server, the suite's ``remotes/`` tree where it exists
and otherwise a one-file tree written by the fixture (``integer.json`` =
``{"type": "integer"}``, the suite's own content for that file). They
drive resolution through ``SchemaCompiler(fetcher=http_fetcher())`` — the
fetch path, not pre-registration. The ``refRemote`` suite tests need the
real tree and are skipped without it. Driver-only (no Spark session
needed): executors never fetch schemas.
"""

import os
import threading
from functools import partial
from http.server import SimpleHTTPRequestHandler, ThreadingHTTPServer

import pytest

from gojsonschema_spark.core.compiler import SchemaCompiler
from gojsonschema_spark.core.errors import SchemaCompileError
from gojsonschema_spark.core.jsonvalue import parse_json
from gojsonschema_spark.core.suite import SUITE_ROOT
from gojsonschema_spark.io.loaders import http_fetcher

REMOTES_DIR = os.path.join(SUITE_ROOT, "remotes")


class _CountingHandler(SimpleHTTPRequestHandler):
    def log_message(self, *a):  # quiet
        pass

    def do_GET(self):
        type(self).hits.append(self.path)
        super().do_GET()


@pytest.fixture(scope="module")
def remote_server(tmp_path_factory):
    served = REMOTES_DIR
    if not os.path.isdir(served):
        tree = tmp_path_factory.mktemp("remotes")
        (tree / "integer.json").write_text('{"type": "integer"}')
        served = str(tree)
    handler = partial(_CountingHandler, directory=served)
    _CountingHandler.hits = []
    srv = ThreadingHTTPServer(("127.0.0.1", 0), handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield f"http://127.0.0.1:{srv.server_address[1]}/", _CountingHandler.hits
    finally:
        srv.shutdown()


def test_fetcher_resolves_unregistered_remote(remote_server):
    base, hits = remote_server
    compiler = SchemaCompiler(draft="draft7", fetcher=http_fetcher())
    compiled = compiler.compile({"$ref": base + "integer.json"})
    assert compiled.is_valid(1)
    assert not compiled.is_valid("a")


def test_fetcher_caches_per_compiler(remote_server):
    base, hits = remote_server
    compiler = SchemaCompiler(draft="draft7", fetcher=http_fetcher())
    before = len(hits)
    compiled = compiler.compile(
        {"properties": {"n": {"$ref": base + "integer.json"},
                        "m": {"$ref": base + "integer.json"}}})
    assert not compiled.is_valid({"n": "x"})
    assert not compiled.is_valid({"m": "x"})
    assert compiled.is_valid({"n": 1, "m": 2})
    assert len(hits) == before + 1  # one GET; second $ref hits the store


def test_without_fetcher_unregistered_remote_fails(remote_server):
    base, _ = remote_server
    compiler = SchemaCompiler(draft="draft7")
    with pytest.raises(SchemaCompileError, match="registered schema store"):
        compiler.compile({"$ref": base + "integer.json"})


def test_fetch_failure_is_a_compile_error(remote_server):
    base, _ = remote_server
    compiler = SchemaCompiler(draft="draft7", fetcher=http_fetcher())
    with pytest.raises(SchemaCompileError, match="fetch failed"):
        compiler.compile({"$ref": base + "no-such-schema.json"})


def test_non_http_url_rejected_by_fetcher():
    fetch = http_fetcher()
    with pytest.raises(SchemaCompileError, match="http"):
        fetch("ftp://example.com/schema.json")


def test_fetcher_composes_with_spark_engine(remote_server, spark):
    """A schema whose $ref resolves via the LIVE fetcher validates a
    DataFrame through the full Spark engine: the fetch happens once at
    driver-side compile; executors only see the compiled graph."""
    from gojsonschema_spark.spark.engine import SparkValidator

    base, _ = remote_server
    compiler = SchemaCompiler(draft="draft7", fetcher=http_fetcher())
    v = SparkValidator(
        {"type": "object", "required": ["n"],
         "properties": {"n": {"$ref": base + "integer.json"}}},
        compiler=compiler)
    df = spark.createDataFrame(
        [('{"n": 3}',), ('{"n": "x"}',), ('{}',)], ["doc"])
    assert [r.valid for r in v.validate_json(df, "doc").collect()] == \
        [True, False, False]


@pytest.mark.skipif(not os.path.isdir(SUITE_ROOT),
                    reason=f"JSON-Schema-Test-Suite not found at {SUITE_ROOT}")
@pytest.mark.parametrize("draft", ["draft4", "draft6", "draft7"])
def test_refremote_suite_through_fetch_path(remote_server, draft):
    """The refRemote.json fixtures pass via LIVE fetch (no
    register_remotes): fixture text is rebased from the suite's fixed
    localhost:1234 onto the ephemeral test server — the remotes tree
    itself contains no absolute localhost refs, so rebasing the
    top-level schemas is exact."""
    base, _ = remote_server
    with open(f"{SUITE_ROOT}/{draft}/refRemote.json", encoding="utf-8") as f:
        text = f.read().replace("http://localhost:1234/", base)
    groups = parse_json(text)
    for group in groups:
        if group.get("disabled"):
            continue
        compiler = SchemaCompiler(draft=draft, auto_detect=True,
                                  validate_schema=True,
                                  fetcher=http_fetcher())
        compiled = compiler.compile(group["schema"])
        for t in group["tests"]:
            got = compiled.is_valid(t["data"])
            assert got == t["valid"], (
                f"{draft}/refRemote.json :: {group['description']} :: "
                f"{t['description']}: got {got}, want {t['valid']}")
