"""Hashed bag-of-words logistic-regression classifier (ops/classifier.py)."""

from __future__ import annotations

import numpy as np
import pytest

from gojsonschema_spark.ops import classifier as clf

GOOD = ["careful measured prose about history and science",
        "the committee reviewed the archival evidence in detail",
        "a long considered essay on agriculture and trade",
        "researchers documented the findings with citations"]
SPAM = ["buy cheap pills now click here winner",
        "free money casino jackpot click subscribe now",
        "cheap cheap deals click banner winner prize",
        "hot singles casino pills free click now"]


def _corpus(spark, n_rep: int = 8):
    rows = []
    i = 0
    for _ in range(n_rep):
        for t in GOOD:
            rows.append((i, t, 1)); i += 1
        for t in SPAM:
            rows.append((i, t, 0)); i += 1
    return spark.createDataFrame(rows, "doc_id long, text string, y int")


@pytest.fixture(scope="module")
def model(spark):
    return clf.train_quality_classifier(
        _corpus(spark), "y", dim=1 << 12, n_iters=25, lr=2.0)


def test_training_separates_planted_classes(spark, model):
    df = _corpus(spark, n_rep=1)
    scored = {r.doc_id: r.prob for r in
              clf.score_quality(df, model, "doc_id").collect()}
    labels = {r.doc_id: r.y for r in df.collect()}
    acc = np.mean([(scored[k] > 0.5) == (labels[k] == 1)
                   for k in labels])
    assert acc == 1.0
    # loss decreased monotonically-ish: end well below start
    assert model["losses"][-1] < 0.2 * model["losses"][0]


def test_matches_numpy_reference(spark):
    """Full-batch GD is deterministic up to float-sum order: the
    distributed trainer must match an independent dense numpy
    implementation at tolerance."""
    dim, iters, lr = 1 << 10, 8, 1.0
    df = _corpus(spark, n_rep=2)
    rows = df.select("text", "y").collect()
    fid_rows = [r.fids for r in df.select(
        clf.hashed_feature_ids("text", dim).alias("fids")).collect()]

    w = np.zeros(dim); b = 0.0
    ys = np.array([r.y for r in rows], dtype=np.float64)
    for _ in range(iters):
        m = np.array([b + w[np.asarray(f, dtype=np.int64)].sum()
                      for f in fid_rows])
        p = 1.0 / (1.0 + np.exp(-m))
        r = p - ys
        g = np.zeros(dim)
        for f, ri in zip(fid_rows, r):
            np.add.at(g, np.asarray(f, dtype=np.int64), ri)
        w = w - lr * g / len(rows)
        b = b - lr * r.mean()

    got = clf.train_quality_classifier(df, "y", dim=dim,
                                       n_iters=iters, lr=lr)
    np.testing.assert_allclose(got["w"], w, rtol=1e-8, atol=1e-12)
    assert abs(got["bias"] - b) < 1e-10


def test_native_and_arrow_scoring_agree(spark, model):
    df = _corpus(spark, n_rep=1).union(
        spark.createDataFrame([(999, "", 0)],
                              "doc_id long, text string, y int"))
    wtab = clf.weights_table(spark, model)
    native = {r.doc_id: r.margin for r in clf.score_quality_native(
        df, wtab, model["dim"], "doc_id", bias=model["bias"]).collect()}
    arrow = {r.doc_id: r.margin for r in
             clf.score_quality(df, model, "doc_id").collect()}
    assert set(native) == set(arrow)
    for k in native:
        assert native[k] == pytest.approx(arrow[k], rel=1e-9, abs=1e-12)
    # empty doc scores exactly the bias on both paths
    assert native[999] == pytest.approx(model["bias"])


def test_native_scoring_plan_is_jvm_only(spark, model):
    wtab = clf.weights_table(spark, model)
    plan = (clf.score_quality_native(_corpus(spark, 1), wtab,
                                     model["dim"], "doc_id")
            ._jdf.queryExecution().executedPlan().toString())
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_guards(spark):
    df = _corpus(spark, 1)
    with pytest.raises(ValueError, match="dim"):
        clf.train_quality_classifier(df, "y", dim=clf.MAX_DIM + 1)
    bad = spark.createDataFrame([(0, "x", 3)],
                                "doc_id long, text string, y int")
    with pytest.raises(ValueError, match="must be 0/1"):
        clf.train_quality_classifier(bad, "y", dim=64, n_iters=1)


def test_hashed_tfidf_matches_reference_and_feeds_ann(spark):
    """Sparse TF-IDF == sklearn-convention numpy reference."""
    import hashlib

    from gojsonschema_spark.ops.classifier import hashed_tfidf_sparse

    dim = 256
    docs = [(0, "the cat sat on the mat"),
            (1, "the cat sat on the mat today"),
            (2, "completely different words entirely"),
            (3, "")]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def fid(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % dim

    # reference: tf * (ln((N+1)/(df+1)) + 1)
    tfs = {}
    dfreq = {}
    for i, t in docs:
        counts = {}
        for tok in t.lower().split():
            counts[fid(tok)] = counts.get(fid(tok), 0) + 1
        tfs[i] = counts
        for f in counts:
            dfreq[f] = dfreq.get(f, 0) + 1
    want = {(i, f): round(tf * (np.log(5 / (dfreq[f] + 1)) + 1), 6)
            for i, counts in tfs.items() for f, tf in counts.items()}

    sparse = hashed_tfidf_sparse(df, dim, "doc_id")
    got = {(r.doc_id, r.fid): r.w for r in sparse.collect()}
    assert got == pytest.approx(want)
    assert not [k for k in got if k[0] == 3]  # empty doc: no rows


def test_save_load_roundtrip(spark, model, tmp_path):
    """Day-2 persistence: a model round-trips through parquet exactly
    (weights, bias, dim) and scores identically."""
    from gojsonschema_spark.ops.classifier import (load_classifier,
                                                   save_classifier)

    p1 = str(tmp_path / "binary")
    save_classifier(spark, model, p1)
    back = load_classifier(spark, p1)
    assert back["w"] == model["w"] and back["bias"] == model["bias"]
    assert back["dim"] == model["dim"]

    df = _corpus(spark, 1)
    a = {r.doc_id: r.margin for r in
         clf.score_quality(df, model, "doc_id").collect()}
    b = {r.doc_id: r.margin for r in
         clf.score_quality(df, back, "doc_id").collect()}
    assert a == b


def test_null_text_rows_survive_everywhere(spark):
    """Web corpora contain NULL text: featurization yields an EMPTY
    array, so training runs and BOTH scoring paths agree (bias) —
    previously the Arrow path crashed with TypeError."""
    df = spark.createDataFrame(
        [(0, "real text here", 1), (1, None, 0), (2, "more words", 0)],
        "doc_id long, text string, y int")
    model = clf.train_quality_classifier(df, "y", dim=256, n_iters=2)
    arrow = {r.doc_id: r.margin for r in
             clf.score_quality(df, model, "doc_id").collect()}
    wtab = clf.weights_table(spark, model)
    native = {r.doc_id: r.margin for r in clf.score_quality_native(
        df, wtab, 256, "doc_id", bias=model["bias"]).collect()}
    assert arrow[1] == pytest.approx(model["bias"])
    for k in native:
        assert native[k] == pytest.approx(arrow[k], rel=1e-9, abs=1e-12)


def test_lowercase_flag_round_trips(spark, tmp_path):
    """A case-sensitive model records lowercase=False and every
    consumer honors it — margin_column and save/load."""
    from gojsonschema_spark.ops.classifier import (load_classifier,
                                                   save_classifier)

    df = spark.createDataFrame(
        [(i, "GOOD Words Here" if i % 2 else "bad words here", i % 2)
         for i in range(40)], "doc_id long, text string, y int")
    model = clf.train_quality_classifier(df, "y", dim=512, n_iters=15,
                                         lr=2.0, lowercase=False)
    assert model["lowercase"] is False
    save_classifier(spark, model, str(tmp_path / "cs"))
    back = load_classifier(spark, str(tmp_path / "cs"))
    assert back["lowercase"] is False
    got = {r.doc_id: r.prob for r in
           clf.score_quality(df, back, "doc_id").collect()}
    labels = {r.doc_id: r.y for r in df.collect()}
    assert all((got[k] > 0.5) == (labels[k] == 1) for k in labels)
