"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Designed for the 100 TB regime:

* exact dedup is a hash-groupBy on a fingerprint (never on raw text —
  shuffle carries 32-byte digests, not documents);
* MinHash+LSH shuffles (band, bucket-signature) pairs; candidate pairs
  are generated per-bucket so the cross-product never materializes
  globally — skewed buckets are bounded by ``max_bucket`` (drop
  degenerate buckets like empty-text, exactly what production pipelines
  do);
* everything is built from pyspark.sql functions (xxhash64, aggregate,
  transform) — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .similarity import _cosine
from .text import normalize_text, tokenize

__all__ = ["exact_duplicates", "exact_dedup_keep_canonical", "shingles",
           "minhash_signatures", "band_buckets",
           "minhash_lsh_pairs", "simhash", "ngram_jaccard_pairs",
           "embedding_near_dups", "lsh_embedding_near_dups",
           "duplicate_paragraphs", "contamination_check",
           "duplicate_clusters", "dedup_keep_canonical",
           "boilerplate_lines", "strip_boilerplate"]


def exact_duplicates(df: DataFrame, text_col: str = "text",
                     key_col: str = "doc_id",
                     max_members: int = 16) -> DataFrame:
    """Groups of byte-identical (after normalization) documents.

    ``members`` carries at most ``max_members`` exemplar keys per group —
    a degenerate fingerprint (e.g. the empty-text group, ~1% of a web
    corpus) must never build a 10^9-element array on one reducer. The
    cap uses SALTED two-stage aggregation (r4; the earlier row_number
    window still SORTED the whole degenerate group on one task): stage 1
    keeps the ``max_members`` smallest keys per (fp, salt) lane — every
    lane-resident member of the global answer survives its lane's slice,
    so the stage-2 merge of <= n_salts * max_members elements is EXACTLY
    the global smallest set; counts sum exactly. No task ever holds more
    than ONE LANE (group_size / 32 keys — the collect_list materializes
    the lane before the slice; a salt count is the lane-memory knob, see
    dataset_checks.topk_per_group's n_salts for the parameterized
    version). ``max_members=0`` skips the member list entirely (fp +
    n_dups only)."""
    fp = F.md5(normalize_text(F.col(text_col))).alias("fp")
    base = df.select(fp, F.col(key_col))
    if not max_members:
        return (base.groupBy("fp")
                    .agg(F.count(F.lit(1)).alias("n_dups"))
                    .filter(F.col("n_dups") >= 2))
    n_salts = 32
    salted = base.withColumn(
        "__salt", F.pmod(F.xxhash64(key_col), F.lit(n_salts)).cast("int"))
    lane = (salted.groupBy("fp", "__salt")
            .agg(F.count(F.lit(1)).alias("__n"),
                 F.slice(F.sort_array(F.collect_list(key_col)),
                         1, max_members).alias("__m")))
    return (lane.groupBy("fp")
                .agg(F.sum("__n").alias("n_dups"),
                     F.slice(F.sort_array(F.flatten(F.collect_list("__m"))),
                             1, max_members).alias("members"))
                .filter(F.col("n_dups") >= 2))


def exact_dedup_keep_canonical(df: DataFrame, text_col: str = "text",
                               key_col: str = "doc_id") -> DataFrame:
    """Exact dedup, DIRECTLY: keep the minimum-key row of every
    byte-identical (after normalization) fingerprint group, at ANY group
    size. Byte-identical groups need no pair/cluster machinery — the
    canonical survivor is simply min(key) per fingerprint — so this is
    one salted-combinable groupBy (map-side partial mins; a degenerate
    10^9-member empty-text group reduces to one row per map partition
    before the shuffle) plus one fp-keyed join back. Routing exact dedup
    through :func:`exact_duplicates`' exemplar-capped member lists
    under-deduplicates groups larger than the cap (the r4 facade bug:
    >64-member degenerate groups kept all members past the cap); the
    exemplar cap is a REPORTING bound, not an edge source.

    The survivor decision runs entirely on a ``(fp, key)`` PROJECTION:
    the min-key aggregate shuffles 24-byte pairs, never document
    payloads, and survivors re-attach through ONE left-semi join on the
    unique key (AQE broadcasts the key set when it is small; at 10^12
    rows it is a key-key shuffle join — either way the full rows move
    at most once, where the previous fp-keyed join-back shuffled every
    payload byte by fingerprint). ``key_col`` must be unique per row
    (same contract as :func:`dedup_keep_canonical`)."""
    fp = F.md5(normalize_text(F.col(text_col)))
    # NULL fingerprints (NULL text) are excluded BEFORE the aggregate:
    # the previous fp-equality join-back dropped NULL-fp rows (SQL
    # equality never matches NULL) — preserved bit-for-bit here
    survivors = (df.select(fp.alias("__fp"), F.col(key_col))
                 .filter(F.col("__fp").isNotNull())
                 .groupBy("__fp")
                 .agg(F.min(key_col).alias(key_col))
                 .select(key_col))
    return df.join(survivors, key_col, "left_semi")


def shingles(text: Column, k: int = 3) -> Column:
    """Token k-shingles (word n-grams) of the normalized text."""
    toks = tokenize(normalize_text(text))
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(n < k, F.array(F.concat_ws(" ", toks))).otherwise(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))))


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       key_col: str = "doc_id", num_hashes: int = 64,
                       k: int = 3) -> DataFrame:
    """MinHash signatures via explode -> one string hash per shingle ->
    per-lane long re-hash -> min-agg.

    The explode (Generate) materializes each shingle's base hash ONCE —
    the shingle STRING is hashed exactly once, and the num_hashes lanes
    re-hash the resulting 8-byte long (xxhash64 over a long is ~3x
    cheaper than over a 20-byte string, and the lanes reference the
    Generate's output attribute so CollapseProject cannot re-inline the
    string hash into every lane). The num_hashes mins are map-side
    partial aggregates; the shuffle carries (key, 64 longs), never
    shingle text. (A single giant array-expression signature was
    measured 100x slower: Catalyst CSE cannot share the shingle
    computation across hash lanes.) The exact pipeline is replicated
    bit-for-bit by the pure-Python oracle in
    tests/test_minhash_reference.py."""
    # small inputs often arrive as 1 file-partition; the explode multiplies
    # rows ~100x, so spread it across the cluster first
    par = df.sparkSession.sparkContext.defaultParallelism
    # the base hash runs AFTER the explode as a scalar expression
    # (whole-stage codegen) instead of a second interpreted transform
    # pass over the shingle array — identical h0 values (same shingle
    # string, same hash function), one fewer lambda pass per document
    exploded = (df.repartition(par)
                .select(F.col(key_col).alias("k"),
                        F.explode(shingles(F.col(text_col), k)).alias("s0"))
                .select("k", F.xxhash64("s0").alias("h0")))
    hashed = exploded.select(
        "k", *[F.xxhash64("h0", F.lit(i)).alias(f"h{i}")
               for i in range(num_hashes)])
    return hashed.groupBy("k").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(num_hashes)])


def band_buckets(sigs: DataFrame, num_hashes: int = 64,
                 bands: int = 16) -> DataFrame:
    """Banded-LSH bucket assignment over MinHash signatures: one
    (k, band, bucket) row per band, bucket = xxhash64 of the band's
    signature slice. Shared by :func:`minhash_lsh_pairs` and the
    cross-run incremental path (ops/incremental.py) so a persisted
    signature store buckets IDENTICALLY to a fresh corpus — bucket ids
    are stable across runs by construction (pure hash of the
    signature)."""
    rows_per_band = num_hashes // bands
    with_sig = sigs.select(
        "k", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig"))
    band_idx = F.sequence(F.lit(0), F.lit(bands - 1))
    return (with_sig.select(
        "k",
        F.explode(F.transform(
            band_idx,
            lambda b: F.struct(
                b.alias("band"),
                F.xxhash64(F.concat_ws(
                    ",", F.transform(F.slice("sig", b * rows_per_band + 1,
                                             rows_per_band),
                                     lambda x: x.cast("string"))),
                ).alias("bucket")))).alias("bb"))
        .select("k", F.col("bb.band").alias("band"),
                F.col("bb.bucket").alias("bucket")))


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      key_col: str = "doc_id", num_hashes: int = 64,
                      bands: int = 16, k: int = 3,
                      max_bucket: int = 1000) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH over MinHash.

    rows = (key_a, key_b) with key_a < key_b, distinct across bands.
    ``max_bucket`` drops degenerate buckets (skew guard) BEFORE the
    per-bucket member lists are collected (r4): the oversized-bucket set
    is computed by a cheap partial-agg count and broadcast as an
    anti-join dim, so no reducer ever materializes a degenerate
    bucket's array — the previous collect-then-filter built it first."""
    sigs = minhash_signatures(df, text_col, key_col, num_hashes, k)
    banded = band_buckets(sigs, num_hashes, bands)
    oversized = (banded.groupBy("band", "bucket")
                 .agg(F.count(F.lit(1)).alias("__n"))
                 .filter(F.col("__n") > max_bucket)
                 .select("band", "bucket"))
    grouped = (banded.join(F.broadcast(oversized), ["band", "bucket"],
                           "left_anti")
                     .groupBy("band", "bucket")
                     .agg(F.sort_array(F.collect_list("k")).alias("ks"))
                     .filter(F.size("ks") >= 2))
    pairs = grouped.select(F.explode(_pairs_of("ks")).alias("p")) \
                   .select(F.col("p.a").alias("key_a"), F.col("p.b").alias("key_b")) \
                   .distinct()
    return pairs


def _pairs_of(arr_col: str) -> Column:
    """All ordered pairs (a<b) of a sorted array column."""
    arr = F.col(arr_col)
    return F.flatten(F.transform(
        arr, lambda a, i: F.transform(
            F.slice(arr, i + 2, F.greatest(F.size(arr) - i - 1, F.lit(0))),
            lambda b: F.struct(a.alias("a"), b.alias("b")))))


def simhash(text: Column, bits: int = 64) -> Column:
    """SimHash: per token, xxhash64 -> for each bit position accumulate
    +1/-1; sign vector packs into a bigint. Pure expressions.

    Single-pass formulation: ONE aggregate over the token hashes carrying
    an array<long> of per-bit vote counters (the naive per-bit version —
    ``bits`` separate aggregate lanes — rescans the token array bits
    times; this scans it once with an inner zip over the mask array)."""
    toks = tokenize(normalize_text(text))
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    masks = [(1 << b) if b < 63 else -(1 << 63) for b in range(bits)]
    masks_arr = F.array(*[F.lit(m) for m in masks])

    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc, masks_arr,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, F.lit(1))
                            .otherwise(F.lit(-1))))
    packed = F.aggregate(
        F.zip_with(votes, masks_arr,
                   lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x)
    return packed.cast("long")


def ngram_jaccard_pairs(df: DataFrame, pairs: DataFrame,
                        text_col: str = "text", key_col: str = "doc_id",
                        k: int = 3, threshold: float = 0.8,
                        round_to: int = 6) -> DataFrame:
    """Verify candidate pairs with exact n-gram Jaccard similarity.

    ``pairs`` has (key_a, key_b); documents join in twice — broadcastable
    when the candidate set is small, shuffle-join otherwise."""
    sh = df.select(F.col(key_col).alias("k"),
                   F.array_distinct(shingles(F.col(text_col), k)).alias("sh"))
    a = sh.select(F.col("k").alias("key_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("k").alias("key_b"), F.col("sh").alias("sh_b"))
    joined = pairs.join(a, "key_a").join(b, "key_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.round(inter / F.greatest(union, F.lit(1)), round_to)
    return (joined.select("key_a", "key_b", jac.alias("jaccard"))
                  .filter(F.col("jaccard") >= threshold))


def embedding_near_dups(df: DataFrame, threshold: float = 0.99,
                        vec_col: str = "embedding", key_col: str = "vec_id",
                        round_to: int = 6) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, EXACT: self-join on
    key_a < key_b with the cosine computed as JVM higher-order functions.
    O(n^2) — the exactness baseline / verifier for a bounded candidate
    set; the 100 TB path is :func:`lsh_embedding_near_dups`, which
    confines the pair generation to hyperplane buckets."""
    a = df.select(F.col(key_col).alias("a"),
                  F.col(vec_col).cast("array<double>").alias("va"))
    b = df.select(F.col(key_col).alias("b"),
                  F.col(vec_col).cast("array<double>").alias("vb"))
    pairs = a.join(b, F.col("a") < F.col("b"))
    # cosine behind a Generate barrier: the threshold filter then tests an
    # attribute instead of re-evaluating the dot product inside FilterExec
    # (no subexpression elimination there)
    scored = pairs.select(
        "a", "b",
        F.explode(F.array(F.round(_cosine(F.col("va"), F.col("vb")),
                                  round_to))).alias("cosine"))
    return scored.filter(F.col("cosine") >= threshold)


def lsh_embedding_near_dups(df: DataFrame, planes: list[list[float]],
                            threshold: float = 0.99,
                            vec_col: str = "embedding",
                            key_col: str = "vec_id",
                            round_to: int = 6,
                            max_bucket: int = 5000) -> DataFrame:
    """Scale path: hyperplane-LSH bucketing -> per-bucket pair generation
    -> exact cosine verify. The self-join shuffles on the signature, so
    the cross-product only materializes within a bucket (near-duplicate
    vectors agree on every sign bit with high probability); degenerate
    buckets are dropped at ``max_bucket`` like minhash_lsh_pairs'. Recall
    vs the exact op is gated in tests/test_ops.py."""
    from .similarity import hyperplane_signature

    signed = df.select(
        F.col(key_col).alias("k"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.explode(F.array(hyperplane_signature(F.col(vec_col), planes)))
         .alias("sig"))
    # deny-list anti-join (r4): broadcasting the ALLOW-list of ok
    # signatures is unbounded (up to |distinct sigs|); the OVERSIZED set
    # is tiny by construction
    oversized = (signed.groupBy("sig").agg(F.count(F.lit(1)).alias("n"))
                 .filter(F.col("n") > max_bucket).select("sig"))
    signed = signed.join(F.broadcast(oversized), "sig", "left_anti")
    a = signed.select("sig", F.col("k").alias("a"), F.col("v").alias("va"))
    b = signed.select("sig", F.col("k").alias("b"), F.col("v").alias("vb"))
    pairs = a.join(b, ["sig"]).filter(F.col("a") < F.col("b"))
    scored = pairs.select(
        "a", "b",
        F.explode(F.array(F.round(_cosine(F.col("va"), F.col("vb")),
                                  round_to))).alias("cosine"))
    return scored.filter(F.col("cosine") >= threshold).dropDuplicates(["a", "b"])


def duplicate_paragraphs(df: DataFrame, text_col: str = "text",
                         key_col: str = "doc_id",
                         min_chars: int = 16,
                         max_members: int = 16) -> DataFrame:
    """Cross-corpus paragraph-level duplicates (the RefinedWeb/C4-style
    line-dedup unit): one row per paragraph fingerprint appearing in 2+
    documents, with bounded exemplar (doc, paragraph-index) members.

    Scale shape: explode multiplies cardinality ~20x but each row shrinks
    to (16-byte fp, key, idx); the shuffle keys on fp with the same
    salted bounded-members discipline as :func:`exact_duplicates` (r4:
    the earlier row_number window sorted the whole degenerate group on
    one task). The salt derives from the KEY alone, so a document's
    paragraphs stay in one lane and per-lane distinct-doc counts SUM
    exactly. Paragraphs shorter than ``min_chars`` (headers, "Home",
    timestamps) are dropped — they are near-universal and would all be
    degenerate hot keys."""
    paras = F.filter(
        F.transform(F.split(F.col(text_col), r"\n{2,}"),
                    lambda p: normalize_text(p)),
        lambda p: F.length(p) >= min_chars)
    exploded = (df.select(F.col(key_col),
                          F.posexplode(paras).alias("para_idx", "para"))
                  .select(F.md5(F.col("para")).alias("fp"),
                          F.col(key_col), F.col("para_idx")))
    n_salts = 32
    member = F.struct(F.col(key_col), F.col("para_idx"))
    salted = exploded.withColumn(
        "__salt", F.pmod(F.xxhash64(key_col), F.lit(n_salts)).cast("int"))
    lane = (salted.groupBy("fp", "__salt")
            .agg(F.count(F.lit(1)).alias("__n"),
                 F.count_distinct(F.col(key_col)).alias("__d"),
                 F.slice(F.sort_array(F.collect_list(member)),
                         1, max_members).alias("__m")))
    return (lane.groupBy("fp")
                .agg(F.sum("__n").alias("n_dups"),
                     F.sum("__d").alias("n_docs"),
                     F.slice(F.sort_array(F.flatten(F.collect_list("__m"))),
                             1, max_members).alias("members"))
                .filter(F.col("n_docs") >= 2))


def contamination_check(df: DataFrame, benchmark: DataFrame,
                        text_col: str = "text", key_col: str = "doc_id",
                        bench_text_col: str = "text",
                        n: int = 13) -> DataFrame:
    """Benchmark decontamination: per document, how many of its word
    ``n``-grams appear in any benchmark text (the standard 13-gram
    overlap test, GPT-3 appendix C / PaLM §7).

    Scale shape: the corpus side explodes to DISTINCT per-doc n-gram
    hashes; the benchmark side (thousands of rows, not 10^12) builds a
    distinct-hash dim that Spark broadcasts — the join is map-side, the
    only shuffle is the final per-doc count. Returns one row per document
    with any overlap: (key, n_contaminated_ngrams)."""

    def grams(col: Column) -> Column:
        toks = F.filter(F.split(F.lower(col), r"\W+"), lambda t: t != "")
        return F.when(F.size(toks) >= n, F.array_distinct(F.transform(
            F.slice(toks, 1, F.greatest(F.size(toks) - (n - 1), F.lit(0))),
            lambda t, i: F.xxhash64(F.concat_ws(
                " ", *[F.element_at(toks, i + j + 1) for j in range(n)])),
        ))).otherwise(F.array().cast("array<bigint>"))

    corpus = (df.select(F.col(key_col),
                        F.explode(grams(F.col(text_col))).alias("g")))
    bench = (benchmark.select(F.explode(grams(F.col(bench_text_col)))
                              .alias("g")).distinct())
    return (corpus.join(F.broadcast(bench), "g")
                  .groupBy(key_col)
                  .agg(F.count(F.lit(1)).alias("n_contaminated_ngrams")))


def duplicate_clusters(pairs: DataFrame, key_a: str = "a", key_b: str = "b",
                       max_iter: int = 20) -> DataFrame:
    """Connected components over a duplicate-pair edge list (the step
    between :func:`minhash_lsh_pairs` / :func:`embedding_near_dups` and
    actual deletion: duplicates form CLUSTERS via transitivity, not just
    pairs). Returns (key, cluster) with cluster = min key in the
    component.

    Min-label propagation: each iteration joins current labels across the
    edge list and keeps the per-key minimum; converges in O(diameter)
    iterations (duplicate clusters are near-cliques from banded LSH, so
    typically 2-3). Scale shape per iteration: one shuffle join keyed on
    the node id + one min-aggregate — no driver-side graph; the only
    collected value is one convergence scalar. Each generation is
    materialized via ``localCheckpoint`` (lineage TRUNCATED, not just
    cached): without it, iteration k's convergence check re-executes all
    k prior joins and iteration k+1 re-executes them again — O(k^2)
    stage executions and an exponentially deepening plan. With the
    checkpoint, the returned plan references a constant-depth scan
    regardless of iteration count (gated in
    tests/test_duplicate_clusters_and_canonical). Convergence costs NO
    extra job for INTEGRAL keys: labels are monotonically non-increasing
    (min of own + neighbors), so sum(cluster) is stationary iff nothing
    changed — the one aggregate both materializes the lazy checkpoint
    and yields the scalar (summed as DECIMAL(38,0): 10^12 keys x 64-bit
    labels overflows int64). The sum check is gated on IntegralType
    ONLY (r5): a fractional key change like 2.41 -> 2.4 is invisible
    after the decimal(38,0) cast, so float/double/decimal-scale keys
    would fake convergence mid-propagation; they keep the exact
    join-based changed count, as do non-numeric keys (string urls,
    where the decimal cast would NULL the sum). Raises RuntimeError if
    ``max_iter`` is exhausted before convergence — silently returning
    half-propagated labels would make dedup_keep_canonical keep extra
    duplicates."""
    from pyspark.sql.types import IntegralType

    numeric_keys = isinstance(pairs.schema[key_a].dataType, IntegralType)
    dec_sum = F.sum(F.col("cluster").cast("decimal(38,0)"))
    edges = (pairs.select(F.col(key_a).alias("src"), F.col(key_b).alias("dst"))
             .union(pairs.select(F.col(key_b).alias("src"),
                                 F.col(key_a).alias("dst"))))
    # edges are re-scanned every iteration — materialize once
    edges = edges.localCheckpoint(eager=True)
    labels = (edges.select(F.col("src").alias("key"))
              .distinct()
              .withColumn("cluster", F.col("key"))
              .localCheckpoint(eager=not numeric_keys))
    if numeric_keys:
        prev_sum = labels.agg(dec_sum).collect()[0][0]  # materializes too
    for _ in range(max_iter):
        # neighbor labels + own label, keep the minimum
        neighbor = (edges.join(labels, edges.dst == labels.key)
                    .select(F.col("src").alias("key"),
                            F.col("cluster")))
        new_labels = (labels.select("key", "cluster").union(neighbor)
                      .groupBy("key").agg(F.min("cluster").alias("cluster"))
                      .localCheckpoint(eager=not numeric_keys))
        if numeric_keys:
            cur_sum = new_labels.agg(dec_sum).collect()[0][0]
            converged = cur_sum == prev_sum
            prev_sum = cur_sum
        else:
            converged = (new_labels.alias("n")
                         .join(labels.alias("o"), "key")
                         .filter(F.col("n.cluster") != F.col("o.cluster"))
                         .limit(1).count()) == 0
        labels = new_labels
        if converged:
            return labels
    raise RuntimeError(
        f"duplicate_clusters did not converge within max_iter={max_iter} "
        f"iterations (component diameter exceeds the budget); raise max_iter")


def dedup_keep_canonical(df: DataFrame, pairs: DataFrame,
                         key_col: str = "doc_id",
                         key_a: str = "a", key_b: str = "b",
                         broadcast_losers: bool = False) -> DataFrame:
    """Drop every member of each duplicate cluster except its canonical
    (minimum-key) survivor. Non-clustered rows pass through untouched:
    the cluster map covers only keys that appear in a pair.

    The losers side is NOT force-broadcast by default (r4): "a few % of
    a web corpus" is still 10^10 keys at 10^12 rows — an unconditional
    broadcast hint is the classic driver/executor OOM. AQE's runtime
    stats convert the anti-join to a broadcast automatically whenever
    the loser set really is small, which is the right call at every
    scale; pass ``broadcast_losers=True`` to force the hint when the
    caller KNOWS the set is tiny (unit-scale corpora, hot-fix runs)."""
    clusters = duplicate_clusters(pairs, key_a, key_b)
    losers = clusters.filter(F.col("key") != F.col("cluster")).select("key")
    if broadcast_losers:
        losers = F.broadcast(losers)
    return df.join(losers, df[key_col] == losers["key"], "left_anti")


def boilerplate_lines(df: DataFrame, host_col: str = "host",
                      text_col: str = "text", min_docs: int = 4,
                      frac: float = 0.5,
                      broadcast_hosts: bool = False) -> DataFrame:
    """Per-host boilerplate detection (nav bars, footers, cookie banners):
    a line occurring in >= ``frac`` of a host's documents (hosts with >=
    ``min_docs`` docs) is boilerplate. Returns (host, line_fp, df, n_docs).

    Scale shape: per-document DISTINCT line fingerprints explode to
    (host, fp) rows (16-byte digests, not line text); one count shuffle
    keyed on (host, fp); host doc-counts reduce to |hosts| rows and join
    back. The host-count dim is NOT force-broadcast by default (r5):
    |hosts| is unbounded by construction — a Common-Crawl-scale corpus
    has ~10^8 hosts, the same unconditional-broadcast OOM class removed
    from dedup_keep_canonical in r4. AQE's runtime stats broadcast it
    automatically whenever it really is small; pass
    ``broadcast_hosts=True`` to force the hint for known-small host
    sets."""
    lines = F.array_distinct(F.filter(
        F.transform(F.split(F.col(text_col), r"\n"), lambda l: F.trim(l)),
        lambda l: l != ""))
    per_doc = (df.select(F.col(host_col), F.explode(lines).alias("line"))
               .select(host_col, F.md5("line").alias("line_fp")))
    line_df = (per_doc.groupBy(host_col, "line_fp")
               .agg(F.count(F.lit(1)).alias("df")))
    host_docs = (df.groupBy(host_col)
                 .agg(F.count(F.lit(1)).alias("n_docs"))
                 .filter(F.col("n_docs") >= min_docs))
    if broadcast_hosts:
        host_docs = F.broadcast(host_docs)
    return (line_df.join(host_docs, host_col)
            .filter(F.col("df") >= frac * F.col("n_docs")))


def strip_boilerplate(df: DataFrame, bp: DataFrame,
                      host_col: str = "host", text_col: str = "text",
                      out_col: str = "text_clean",
                      broadcast_hosts: bool = False) -> DataFrame:
    """Remove the detected boilerplate lines from each document: the
    boilerplate set folds to one fp-array per host (repeated chrome, not
    content), joins back on host, and a per-row array filter rebuilds
    the text. Hosts with no boilerplate pass through.

    The per-host fp-set dim is NOT force-broadcast by default (r5): its
    size is bounded only by |hosts with >= min_docs| — 10^7-10^8 rows at
    web scale, each carrying an ARRAY of md5 strings, i.e. multi-GB —
    the same unbounded-broadcast pattern r4 removed from
    dedup_keep_canonical. AQE converts the join to broadcast at runtime
    whenever the dim is actually small; ``broadcast_hosts=True`` forces
    the hint for known-small host sets (unit corpora, single-site
    runs)."""
    sets = bp.groupBy(host_col).agg(
        F.collect_set("line_fp").alias("__bp_fps"))
    if broadcast_hosts:
        sets = F.broadcast(sets)
    joined = df.join(sets, on=host_col, how="left")
    lines = F.split(F.col(text_col), r"\n")
    kept = F.when(F.col("__bp_fps").isNotNull(), F.filter(
        lines,
        lambda l: ~F.array_contains(F.col("__bp_fps"), F.md5(F.trim(l))))
    ).otherwise(lines)
    return (joined.withColumn(out_col, F.array_join(kept, "\n"))
            .drop("__bp_fps"))
