"""Cross-run incremental deduplication: dedup a NEW crawl against a
PERSISTED store from previous runs — the day-2 shape every production
pipeline actually executes (single-corpus dedup is day 1 only).

Three store granularities, matching the single-corpus operators:

* **fingerprint store** — distinct md5(normalized text) digests; exact
  membership. 16 bytes/doc: 10^12 documents persist as ~16 TB of
  digests, a parquet table the anti-join shuffles by fp. For repeated
  day-2 runs, write it bucketed by ``fp`` (io/tables helpers) so the
  per-run anti-join co-locates without re-shuffling the store.
* **signature store** — MinHash signatures (key + num_hashes longs);
  near-duplicate membership via banded LSH against the store's buckets.
  ~0.5 KB/doc at 64 hashes. Bucket ids are pure hashes of the signature
  (dedup.band_buckets), so a store persisted last month buckets
  IDENTICALLY to today's crawl — no co-training, no global state.
* **simhash store** — one 64-bit sketch per document (8 bytes/doc);
  Hamming-distance near-dup membership via the Manku pigeonhole block
  join (:func:`simhash_dedup_incremental`).

Both ops return the SURVIVING new rows (DataFrame in, DataFrame out,
lazy); the caller appends the survivors' fingerprints/signatures to the
store for run N+1 (``fingerprint_store(survivors)`` /
``minhash_signatures(survivors)`` unioned onto the persisted table).

Store sides are never force-broadcast (they scale with ALL PRIOR CRAWLS,
the most unbounded dim in the system); joins key on 8-16-byte digests
and AQE picks broadcast only when runtime stats allow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import band_buckets, minhash_signatures, simhash
from .text import normalize_text

__all__ = ["fingerprint_store", "exact_dedup_incremental",
           "signature_store", "minhash_dedup_incremental",
           "simhash_store", "simhash_dedup_incremental",
           "embedding_dedup_incremental", "crawl_diff",
           "crawl_diff_summary"]


def fingerprint_store(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct normalized-text fingerprints of a corpus — the persisted
    exact-dedup store. One column ``fp`` (md5 hex); distinct so the
    store never grows duplicate rows across appends of deduped runs."""
    return (df.select(F.md5(normalize_text(F.col(text_col))).alias("fp"))
            .distinct())


def exact_dedup_incremental(new_df: DataFrame, store: DataFrame,
                            text_col: str = "text",
                            key_col: str = "doc_id",
                            fp_col: str = "fp",
                            bloom_fpp: float | None = None,
                            bloom_n_items: int | None = None) -> DataFrame:
    """Drop every new row whose normalized text already exists in the
    persisted fingerprint ``store``, then keep one canonical
    (minimum-``key_col``) survivor per remaining within-batch duplicate
    group. Returns the surviving new rows, columns unchanged.

    Scale shape: fp computed map-side on the new crawl; one anti-join
    against the store keyed on 16-byte digests (store side read
    column-pruned to ``fp_col`` only — at 10^12 accumulated documents
    the store is the big side, so this is a digest-digest shuffle join,
    co-located for free when the store table is bucketed by fp); then
    the same salted-combinable groupBy + join-back as
    :func:`dedup.exact_dedup_keep_canonical` for the within-batch
    groups. No driver-side state, nothing collected.

    ``bloom_fpp`` opts into Bloom semi-join reduction (ops/bloom.py):
    a Bloom filter built over the NEW crawl's fingerprints (the small
    side) pre-filters the store scan, so the store shuffles only rows
    that can possibly eliminate something — |matches| + fpp * |store|
    instead of all prior crawls. The result is IDENTICAL (false
    positives just reach the exact anti-join, which ignores them;
    equality pinned in tests). Costs one extra eager pass over the new
    crawl to build the bitmap (+ a count when ``bloom_n_items`` is not
    given) — worth it exactly when |store| >> |new|, the day-2 shape."""
    fp = F.md5(normalize_text(F.col(text_col)))
    # the whole decision pipeline (store anti-join, within-batch
    # min-key) runs on a (fp, key) PROJECTION of the new crawl: the
    # store anti-join and the survivor aggregate shuffle 24-byte
    # pairs, never document payloads — the previous formulation
    # shuffled the full new-crawl rows by fp TWICE (anti-join +
    # join-back). Survivors re-attach through one left-semi join on
    # the unique key (AQE broadcasts small key sets; at scale it is a
    # key-key shuffle join — full rows move at most once either way).
    pairs = new_df.select(fp.alias("__fp"), F.col(key_col))
    # no .distinct() on the store: LEFT ANTI ignores duplicate build
    # keys, and de-duplicating a 10^12-row store would be a full extra
    # shuffle for nothing (fingerprint_store is distinct by construction)
    store_fps = store.select(F.col(fp_col).alias("__fp"))
    if bloom_fpp is not None:
        from .bloom import bloom_build, bloom_probe
        bf = bloom_build(pairs.select("__fp"), "__fp",
                         fpp=bloom_fpp, n_items=bloom_n_items)
        store_fps = store_fps.filter(bloom_probe(bf, F.col("__fp")))
    fresh = pairs.join(store_fps, "__fp", "left_anti")
    # NULL fps: the previous fp-equality join-back dropped NULL-fp rows
    # (SQL equality never matches NULL) — preserved here
    survivors = (fresh.filter(F.col("__fp").isNotNull())
                 .groupBy("__fp")
                 .agg(F.min(key_col).alias(key_col))
                 .select(key_col))
    return new_df.join(survivors, key_col, "left_semi")


def signature_store(df: DataFrame, text_col: str = "text",
                    key_col: str = "doc_id", num_hashes: int = 64,
                    k: int = 3) -> DataFrame:
    """Persisted near-dup store row per document: MinHash signature
    (``k`` + ``h0..h{n-1}``, :func:`dedup.minhash_signatures`) PLUS the
    exact normalized-text fingerprint ``fp``. The fp costs 16 bytes/row
    and buys :func:`minhash_dedup_incremental` its ``confirm_exact``
    mode — byte-identical membership answered from the store without
    ever scanning stored text."""
    sigs = minhash_signatures(df, text_col, key_col, num_hashes, k)
    fps = df.select(F.col(key_col).alias("k"),
                    F.md5(normalize_text(F.col(text_col))).alias("fp"))
    return sigs.join(fps, "k")


def minhash_dedup_incremental(new_df: DataFrame, store_sigs: DataFrame,
                              text_col: str = "text",
                              key_col: str = "doc_id",
                              num_hashes: int = 64, bands: int = 16,
                              k: int = 3, threshold: float = 1.0,
                              max_bucket: int = 1000,
                              confirm_exact: bool = False) -> DataFrame:
    """Near-duplicate dedup of a new crawl against a persisted MinHash
    signature store (schema = :func:`dedup.minhash_signatures` output:
    ``k`` + ``h0..h{num_hashes-1}`` — plus ``fp`` when built by
    :func:`signature_store`; same num_hashes/k parameters as at
    store-build time).

    A new document is dropped when it matches (a) ANY stored document,
    or (b) any smaller-keyed new document (within-batch rule: each
    duplicate set keeps its minimum key — or nothing, when that minimum
    itself matched the store and the set is mutually identical). "Match"
    is one of two verify stages over the LSH candidates:

    * default — estimated Jaccard (fraction of agreeing signature
      lanes, an unbiased estimator of true Jaccard) ``>= threshold``.
      The store carries no text, so this is inherently an ESTIMATE: at
      threshold 1.0 it demands all lanes agree, which a true-Jaccard-J
      pair still passes with probability J^num_hashes (measured on the
      test corpus: J~0.98 organic near-dups collide on all 64 lanes) —
      acceptable and usually desirable for near-dup dedup, but not
      byte-exact.
    * ``confirm_exact=True`` — candidates confirm on ``fp`` equality
      (store built by :func:`signature_store`): EXACT byte-identical
      (after normalization) dedup served through the LSH candidate
      path. Recall is 1.0 by construction (identical shingle sets hash
      to identical signatures, hence identical buckets); the fp kills
      every J<1 collision. This mode is the driver-oracled one.

    Scale shape: candidates come from a (band, bucket) equi-join of the
    new crawl's bucket table against the store's — per-bucket pair
    generation, never all-pairs, with the same oversized-bucket
    deny-list as minhash_lsh_pairs computed over the UNION of both
    sides (a degenerate bucket is degenerate regardless of which run
    its members came from). Shuffles carry (key, band, bucket) triples
    and signature rows, never text. The store side is consumed twice
    (buckets + verify), both column-pruned projections of one parquet
    scan."""
    if confirm_exact and "fp" not in store_sigs.columns:
        raise ValueError(
            "confirm_exact=True needs an 'fp' column in the store "
            "(build it with signature_store())")
    sig_cols = [f"h{i}" for i in range(num_hashes)]
    new_sigs = minhash_signatures(new_df, text_col, key_col, num_hashes, k)
    if confirm_exact:
        new_fps = new_df.select(
            F.col(key_col).alias("k"),
            F.md5(normalize_text(F.col(text_col))).alias("fp"))
        new_sigs = new_sigs.join(new_fps, "k")
    # the new crawl's signature table feeds SIX consumers below (bucket
    # table x3 via new_b, verify joins x3) and its lineage is the full
    # shingle explode + num_hashes min-aggregation — materialize it once
    # (bounded: one row per new doc, num_hashes longs + fp). The STORE
    # side is deliberately NOT checkpointed: a persisted day-2 store is
    # a parquet scan, and copying 10^12 store rows to executor storage
    # costs more than its two column-pruned scans.
    new_sigs = new_sigs.localCheckpoint(eager=True)

    new_b = band_buckets(new_sigs, num_hashes, bands)
    old_b = band_buckets(store_sigs.select("k", *sig_cols),
                         num_hashes, bands)
    oversized = (new_b.select("band", "bucket")
                 .unionAll(old_b.select("band", "bucket"))
                 .groupBy("band", "bucket")
                 .agg(F.count(F.lit(1)).alias("__n"))
                 .filter(F.col("__n") > max_bucket)
                 .select("band", "bucket"))
    new_b = new_b.join(F.broadcast(oversized), ["band", "bucket"], "left_anti")
    old_b = old_b.join(F.broadcast(oversized), ["band", "bucket"], "left_anti")

    if confirm_exact:
        match = F.col("na.fp") == F.col("oa.fp")
    else:
        match = (sum((F.col(f"na.{c}") == F.col(f"oa.{c}")).cast("int")
                     for c in sig_cols) / F.lit(num_hashes)) >= threshold

    # (new, old) candidates: bucket equi-join, then the verify stage
    no_pairs = (new_b.select(F.col("k").alias("nk"), "band", "bucket")
                .join(old_b.select(F.col("k").alias("ok"), "band", "bucket"),
                      ["band", "bucket"])
                .select("nk", "ok").distinct())
    vs_store = (no_pairs
                .join(new_sigs.alias("na"), no_pairs.nk == F.col("na.k"))
                .join(store_sigs.alias("oa"), no_pairs.ok == F.col("oa.k"))
                .filter(match)
                .select(F.col("nk").alias("loser")).distinct())

    # (new, new) candidates within the batch: same buckets, a < b
    nn_pairs = (new_b.select(F.col("k").alias("a"), "band", "bucket")
                .join(new_b.select(F.col("k").alias("b"), "band", "bucket"),
                      ["band", "bucket"])
                .filter(F.col("a") < F.col("b"))
                .select("a", "b").distinct())
    nn_dups = (nn_pairs
               .join(new_sigs.alias("na"), nn_pairs.a == F.col("na.k"))
               .join(new_sigs.alias("oa"), nn_pairs.b == F.col("oa.k"))
               .filter(match)
               .select(F.col("b").alias("loser")).distinct())

    losers = vs_store.unionAll(nn_dups).distinct()
    return new_df.join(losers, new_df[key_col] == losers["loser"],
                       "left_anti")


def embedding_dedup_incremental(new_df: DataFrame, store_df: DataFrame,
                                planes: list[list[float]],
                                threshold: float = 0.99,
                                vec_col: str = "embedding",
                                key_col: str = "vec_id",
                                round_to: int = 6,
                                max_bucket: int = 5000) -> DataFrame:
    """Embedding-cosine near-dup dedup of new vectors against a
    PERSISTED vector store (the store IS the historical embedding table
    — vectors are their own verify payload, unlike the text ops). A new
    vector drops when its cosine (rounded to ``round_to``) reaches
    ``threshold`` against any stored vector or any smaller-keyed new
    vector.

    Scale shape mirrors dedup.lsh_embedding_near_dups: both sides sign
    with the SAME hyperplanes (signatures are pure functions of the
    vector, so a store signed last month buckets identically — persist
    the planes with the store, similarity.random_hyperplanes(seed=...)
    regenerates them), candidates come from a signature equi-join with
    the oversized-bucket deny-list computed over the union, and the
    exact JVM-side cosine verifies. Near-identical vectors agree on
    every sign bit with high probability (exactly 1 for positive scalar
    multiples), so recall at the near-dup threshold is high and gated
    in tests; shuffles carry (key, sig) pairs plus the bucket-local
    vectors."""
    from .similarity import _cosine, hyperplane_signature

    sig = hyperplane_signature(F.col(vec_col), planes)
    new_s = new_df.select(F.col(key_col).alias("k"),
                          F.col(vec_col).cast("array<double>").alias("v"),
                          sig.alias("sig"))
    old_s = store_df.select(F.col(key_col).alias("k"),
                            F.col(vec_col).cast("array<double>").alias("v"),
                            sig.alias("sig"))
    oversized = (new_s.select("sig").unionAll(old_s.select("sig"))
                 .groupBy("sig").agg(F.count(F.lit(1)).alias("__n"))
                 .filter(F.col("__n") > max_bucket).select("sig"))
    new_s = new_s.join(F.broadcast(oversized), "sig", "left_anti")
    old_s = old_s.join(F.broadcast(oversized), "sig", "left_anti")

    cos = F.round(_cosine(F.col("va"), F.col("vb")), round_to)
    vs_store = (new_s.select("sig", F.col("k").alias("nk"),
                             F.col("v").alias("va"))
                .join(old_s.select("sig", F.col("k").alias("ok"),
                                   F.col("v").alias("vb")), ["sig"])
                .filter(cos >= threshold)
                .select(F.col("nk").alias("loser")).distinct())
    nn = (new_s.select("sig", F.col("k").alias("a"), F.col("v").alias("va"))
          .join(new_s.select("sig", F.col("k").alias("b"),
                             F.col("v").alias("vb")), ["sig"])
          .filter(F.col("a") < F.col("b"))
          .filter(cos >= threshold)
          .select(F.col("b").alias("loser")).distinct())
    losers = vs_store.unionAll(nn).distinct()
    return new_df.join(losers, new_df[key_col] == losers["loser"],
                       "left_anti")


def simhash_store(df: DataFrame, text_col: str = "text",
                  key_col: str = "doc_id") -> DataFrame:
    """Persisted SimHash store: one (k, sim) row per document — 8 bytes
    of sketch per doc, the cheapest near-dup store of the three. Feed to
    :func:`simhash_dedup_incremental`."""
    return df.select(F.col(key_col).alias("k"),
                     simhash(F.col(text_col)).alias("sim"))


def _simhash_combo_keys(sims: DataFrame, n_blocks: int,
                        need: int) -> DataFrame:
    """(k, blk, val) rows — one per ``need``-sized block COMBINATION:
    the 64-bit simhash splits into ``n_blocks`` contiguous bit blocks
    (widths as even as 64/n allows) and each combination of ``need``
    blocks concatenates into one join key (``blk`` = combination index,
    ``val`` = xxhash64 of the member block values). A pair within
    Hamming distance d = n_blocks - need differs in at most d blocks,
    hence agrees EXACTLY on every block of at least one ``need``-subset
    — the Manku table construction's pigeonhole. For need == 1 this
    degenerates to plain per-block keys. Pure shifts + one hash — no
    UDF."""
    import itertools

    bounds = []
    base, rem = divmod(64, n_blocks)
    lo = 0
    for i in range(n_blocks):
        w = base + (1 if i < rem else 0)
        bounds.append((lo, w))
        lo += w
    # logical right shift then mask: width < 64, so the mask literal
    # fits a signed long
    vals = [F.shiftrightunsigned(F.col("sim"), lo)
             .bitwiseAND(F.lit((1 << w) - 1))
            for lo, w in bounds]
    combos = list(itertools.combinations(range(n_blocks), need))
    keys = F.array(*[
        F.struct(
            F.lit(ci).alias("blk"),
            (vals[c[0]] if len(c) == 1 else
             F.xxhash64(*[vals[j] for j in c])).alias("val"))
        for ci, c in enumerate(combos)])
    return (sims.select("k", F.explode(keys).alias("b"))
            .select("k", F.col("b.blk").alias("blk"),
                    F.col("b.val").alias("val")))


def simhash_dedup_incremental(new_df: DataFrame, store: DataFrame,
                              text_col: str = "text",
                              key_col: str = "doc_id",
                              max_hamming: int = 3,
                              n_blocks: int | None = None,
                              max_bucket: int = 100_000) -> DataFrame:
    """Near-duplicate dedup of a new crawl against a persisted SimHash
    store at Hamming distance <= ``max_hamming`` — the Manku/Jain/Sarma
    (WWW 2007) web-dedup formulation, which Google ran at 8B pages with
    d=3. A new document drops when some stored document's — or some
    smaller-keyed new document's — simhash differs in at most
    ``max_hamming`` bits.

    Scale shape (pigeonhole combination join): the 64-bit sketch splits
    into ``n_blocks`` contiguous blocks (default d+1) and every
    combination of ``n_blocks - d`` blocks concatenates into one join
    key; a pair within distance d differs in at most d blocks, so it
    agrees exactly on every block of at least one combination —
    candidates come from an equi-join on (combination, key), never an
    all-pairs scan, and verify with one native ``bit_count(a ^ b)``.

    ``n_blocks`` trades row amplification against bucket size — the
    Manku table-count/precision knob: each side emits C(n_blocks, n-d)
    rows per doc, and a bucket key carries ~64*(n-d)/n bits, so the
    EXPECTED organic bucket size is n_docs / 2^bits. The d+1 default
    (one 16-bit block per key at d=3) is right up to ~10^9 docs; at
    10^11-10^12 use n_blocks=8 (56 combos, 40-bit keys: buckets stay
    O(1), amplification 56x of 20-byte triples ~ 1 KB/doc — still far
    cheaper than the text it replaces). ``max_bucket`` deny-lists
    degenerate buckets (the all-zeros sketch of empty-ish docs) exactly
    like the MinHash ops."""
    new_sims = simhash_store(new_df, text_col, key_col)
    b = n_blocks or (max_hamming + 1)
    if b <= max_hamming:
        raise ValueError("n_blocks must exceed max_hamming")
    need = b - max_hamming
    new_b = _simhash_combo_keys(new_sims, b, need)
    old_b = _simhash_combo_keys(store, b, need)
    oversized = (new_b.select("blk", "val")
                 .unionAll(old_b.select("blk", "val"))
                 .groupBy("blk", "val")
                 .agg(F.count(F.lit(1)).alias("__n"))
                 .filter(F.col("__n") > max_bucket)
                 .select("blk", "val"))
    new_b = new_b.join(F.broadcast(oversized), ["blk", "val"], "left_anti")
    old_b = old_b.join(F.broadcast(oversized), ["blk", "val"], "left_anti")

    within = F.bit_count(F.col("na.sim").bitwiseXOR(F.col("oa.sim"))) \
        <= max_hamming

    no_pairs = (new_b.select(F.col("k").alias("nk"), "blk", "val")
                .join(old_b.select(F.col("k").alias("ok"), "blk", "val"),
                      ["blk", "val"])
                .select("nk", "ok").distinct())
    vs_store = (no_pairs
                .join(new_sims.alias("na"), no_pairs.nk == F.col("na.k"))
                .join(store.alias("oa"), no_pairs.ok == F.col("oa.k"))
                .filter(within)
                .select(F.col("nk").alias("loser")).distinct())

    nn_pairs = (new_b.select(F.col("k").alias("a"), "blk", "val")
                .join(new_b.select(F.col("k").alias("b"), "blk", "val"),
                      ["blk", "val"])
                .filter(F.col("a") < F.col("b"))
                .select("a", "b").distinct())
    nn_dups = (nn_pairs
               .join(new_sims.alias("na"), nn_pairs.a == F.col("na.k"))
               .join(new_sims.alias("oa"), nn_pairs.b == F.col("oa.k"))
               .filter(within)
               .select(F.col("b").alias("loser")).distinct())

    losers = vs_store.unionAll(nn_dups).distinct()
    return new_df.join(losers, new_df[key_col] == losers["loser"],
                       "left_anti")


def crawl_diff(old_df: DataFrame, new_df: DataFrame,
               key_col: str = "url", text_col: str = "text") -> DataFrame:
    """Snapshot diff between two crawls of the same corpus: one row per
    url in either crawl with ``status`` in added / removed / changed /
    unchanged (changed = same url, different normalized-text
    fingerprint — content drift, the signal recrawl schedulers and
    freshness audits key on).

    One full-outer shuffle join on the url key, both sides reduced to
    (key, 16-byte fp) first — at 10^12 pages the join moves ~50 B/row,
    not page bodies. Neither side is broadcast (both are crawl-sized).
    """
    o = old_df.select(F.col(key_col).alias("url"),
                      F.md5(normalize_text(F.col(text_col))).alias("_fp_old"))
    n = new_df.select(F.col(key_col).alias("url"),
                      F.md5(normalize_text(F.col(text_col))).alias("_fp_new"))
    j = o.join(n, "url", "full_outer")
    status = (F.when(F.col("_fp_old").isNull(), F.lit("added"))
              .when(F.col("_fp_new").isNull(), F.lit("removed"))
              .when(F.col("_fp_old") != F.col("_fp_new"), F.lit("changed"))
              .otherwise(F.lit("unchanged")))
    return j.select("url", status.alias("status"))


def crawl_diff_summary(old_df: DataFrame, new_df: DataFrame,
                       key_col: str = "url",
                       text_col: str = "text") -> DataFrame:
    """Per-host rollup of :func:`crawl_diff`: ``(host, n_added,
    n_removed, n_changed, n_unchanged)`` — the crawl-health dashboard
    table. Adds one count shuffle on host after the diff join; hosts
    without a parseable authority roll up under NULL."""
    from .webpages import url_host

    d = crawl_diff(old_df, new_df, key_col, text_col)
    return (d.groupBy(url_host(F.col("url")).alias("host"))
            .agg(*[F.sum((F.col("status") == s).cast("long"))
                   .alias(f"n_{s}")
                   for s in ("added", "removed", "changed", "unchanged")]))
