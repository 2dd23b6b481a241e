"""Document deduplication for large-scale training-data pipelines.

Four tiers, all shuffle-conscious:

- ``exact_dedup``       content-hash groupBy (one shuffle on a 16-byte key)
- ``minhash_lsh``       shingle -> minhash -> band -> bucket pairs; candidate
                        pairs only form inside LSH buckets, never all-pairs.
                        Signatures come from one NumPy ``mapInPandas``
                        kernel (``minhash_signatures_np``); banding, the
                        bucket pairing and the Jaccard estimate run in the
                        JVM.
- ``simhash``           64-bit sign-of-weighted-votes fingerprint (Arrow
                        batch UDF), near-dups = Hamming distance <= t via
                        bucket pairs on pigeonhole blocks.
- ``ngram_jaccard``     exact Jaccard verification on candidate pairs.

Every bucket family (MinHash bands, SimHash/pHash blocks and the sign-LSH
buckets of ``similarity.knn_pairs_exact``) pairs rows through
``_bucket_pairs``: one exchange on the bucket key, inside which each bucket
pairs its own rows — singleton and over-full buckets are counted, never
gathered, and never pair.  Caches are taken and released through one
``_Fence``; a family adds only its own verification.  The persisted
MinHash and pHash signature stores share one build / probe / admit /
append path; their params sidecar tells the families apart.

At 100 TB the pair stage's only bucket shuffle is that exchange on
(band_id, band_hash) — bounded, well-distributed keys; pairs form within
buckets.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


class _Fence:
    """The caches one operator call takes, released in one place.

    ``hold`` persists a table and, unless told not to, runs the one
    counting action that materializes it.  A table read by more than one
    side of a join — the MinHash ``sig`` re-attached to both pair ids, the
    store probe's batch — reads one cache that way, instead of being
    re-resolved per side (observed nondeterminism before the cache
    exists).  A table the caller already caches is used as it is and
    never released here — Spark has no persist refcount, so unpersisting
    it would evict the caller's cache.  Leaving the ``with`` block
    releases every table held, except those held with ``out=True`` (the
    call's results, handed to the caller); an exception releases those
    too."""

    def __init__(self):
        self._tmp: list = []
        self._out: list = []

    def __enter__(self) -> "_Fence":
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        for df in self._tmp + (self._out if exc_type else []):
            df.unpersist()
        return False

    def hold(self, df: DataFrame, count: bool = True,
             out: bool = False) -> DataFrame:
        lvl = df.storageLevel
        if not (lvl.useMemory or lvl.useDisk):
            df = df.persist()
            (self._out if out else self._tmp).append(df)
        if count:
            df.count()
        return df

    def adopt(self, *dfs: DataFrame) -> None:
        """Release these already persisted tables with the call's own."""
        self._tmp.extend(dfs)


def _bucket_pairs(table: DataFrame, keys: list, carry: list,
                  max_bucket: int | None) -> DataFrame:
    """``(id_a, id_b, <c>_a, <c>_b for c in carry)`` for every two rows of
    ``table`` (columns ``_id``, ``keys`` and ``carry``) that share a
    bucket, with ``id_a < id_b``.  A pair sharing several buckets appears
    once per bucket, and duplicate ``_id`` rows pair once per row.

    One exchange on the bucket key, then two windows over each bucket:
    the first counts its rows, rows of singleton and over-full buckets
    are dropped, and the second hands every remaining row the list of its
    bucket's rows to pair with.  An over-full bucket is therefore never
    gathered: the count's buffer spills to disk.  The table is read once
    and nothing is held, counted or broadcast.  A bucket whose key has a
    NULL never pairs (as in an equi-join).  ``max_bucket`` drops buckets
    of more rows, the standard skew guard: an over-full bucket is
    boilerplate shared by thousands of rows and would make the pairing
    quadratic, while its members still pair through their other
    buckets."""
    bucket = Window.partitionBy(*keys)
    n = F.col("_n")
    kept = n >= 2 if max_bucket is None else n.between(2, max_bucket)
    row = F.struct("_id", *carry)
    rows = (table.dropna(subset=keys)
                 .withColumn("_n", F.count("*").over(bucket)).where(kept)
                 .select(row.alias("a"),
                         F.collect_list(row).over(bucket).alias("m")))
    later = F.filter("m", lambda x: x["_id"] > F.col("a._id"))
    return (rows.select("a", F.explode(later).alias("b"))
                .select(*_pair_cols("a", "b", carry)))


def _pair_cols(left: str, right: str, carry: list) -> list:
    """``id_a``, ``id_b`` and ``<c>_a``, ``<c>_b`` from the two sides of
    a pair: aliased tables of a join, or struct columns."""
    return [F.col(f"{left}._id").alias("id_a"),
            F.col(f"{right}._id").alias("id_b"),
            *[F.col(f"{t}.{c}").alias(f"{c}_{side}") for c in carry
              for t, side in ((left, "a"), (right, "b"))]]


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """One row per duplicate *group* (n>1): content hash, count, keeper id."""
    return (docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
                .agg(F.count("*").alias("n_dups"),
                     F.min(id_col).alias("keeper"))
                .where(F.col("n_dups") > 1))


def drop_exact_dups(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative of each content group."""
    w_keeper = (docs.groupBy(F.md5(F.col(text_col)).alias("_h"))
                    .agg(F.min(id_col).alias(id_col)))
    return docs.join(w_keeper.select(id_col), id_col, "left_semi")


def shingles(text_col: str, k: int = 5) -> F.Column:
    """Array of character k-shingles — pure higher-order-function SQL."""
    t = F.lower(F.col(text_col))
    n = F.greatest(F.length(t) - (k - 1), F.lit(1))
    return F.transform(F.sequence(F.lit(1), n), lambda i: t.substr(i, F.lit(k)))


def _sm_mix_np(z: np.ndarray) -> np.ndarray:
    """SplitMix64 finalizer (public mix function) on uint64 arrays."""
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _widened_id_type(simple: str, id_col: str, strict: bool = True) -> str:
    """Stable on-disk id type for signature tables/stores: integral
    widths all widen to ``long``, strings pass through.  ``strict``
    (the STORE boundary — build/append) raises on anything else, so a
    store can never accumulate mixed-type files; non-strict (in-session
    signature generation, where ids only flow through joins and ``<``)
    passes unknown types through unchanged."""
    if simple in ("tinyint", "smallint", "int", "bigint"):
        return "bigint"
    if simple == "string" or not strict:
        return simple
    raise ValueError(
        f"id column {id_col!r} must be integral or string for the "
        f"signature store, got {simple}")


def _check_store_id_type(spark, path: str, new_sig: DataFrame) -> None:
    """Append chokepoint: the batch's ``_id`` type must equal the
    resident ``sigs`` type.  A store built before the round-7 widening
    (int32 on disk) or a string-id store fed a bigint batch would
    otherwise accumulate mixed-type parquet files and wedge every later
    read (review r7, second pass)."""
    from .similarity import _live_dir
    resident = dict(spark.read.parquet(_live_dir(f"{path}/sigs"))
                    .dtypes)["_id"]
    batch = dict(new_sig.dtypes)["_id"]
    if resident != batch:
        raise ValueError(
            f"store at {path} holds _id:{resident} but the batch carries "
            f"_id:{batch} — appending would mix parquet schemas; rebuild "
            "the store (or cast the batch ids) to migrate")


def minhash_signatures_np(docs: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", k: int = 5,
                          n_hashes: int = 32) -> DataFrame:
    """(_id, sig array<long>) via a NumPy mapInPandas kernel: sliding-window
    FNV-1a over the lowercased UTF-8 bytes + Kirsch–Mitzenmacher double
    hashing (``h1 + i * h2``, ``h2 = splitmix(h1) | 1``, odd, so every
    variant family is a full-period permutation of Z_2^64).

    WHY KM (round 3): the round-2 family ``mix(h xor salt_i)`` derived all
    variants from one mix of the same base — measured on sf0.1 documents it
    left the per-slot argmins CORRELATED across salts, inflating
    est_jaccard for non-dup pairs: 2831 candidate pairs of which only 256
    were true (precision 0.09).  KM double hashing, same cost, emits 299
    with the SAME 256 true pairs (precision 0.86).  See
    BENCH/IMPROVEMENTS.md.

    ``_id`` follows the input id type — STRING ids carry the namespaced
    ``doc:``/``img:`` nodes of ``cross_modal_pairs``; every INTEGRAL
    width is widened to ``long`` so two batches of the same store can
    never append mixed int32/int64 parquet files (which would wedge
    every later read of ``sigs`` — review r7).  Other id types pass
    through for in-session pair generation; the STORE boundary
    (build/append) enforces integral-or-string separately."""
    id_type = _widened_id_type(docs.schema[id_col].dataType.simpleString(),
                               id_col, strict=False)

    def batch(it):
        for pdf in it:
            sig = km_minhash_batch(pdf[text_col], k, n_hashes)
            yield pd.DataFrame({"_id": pdf[id_col],
                                "sig": sig.astype(np.int64).tolist()})

    return docs.select(id_col, text_col).mapInPandas(
        batch, schema=f"_id {id_type}, sig array<long>")


def km_minhash_batch(texts, k: int = 5, n_hashes: int = 32) -> np.ndarray:
    """(n_docs, n_hashes) KM minhash signatures, vectorized across the WHOLE
    batch (round 8, guide §4.2): one flat byte buffer for every document,
    ONE sliding-window FNV-1a pass over it, per-doc minima via
    ``minimum.reduceat`` — no per-document Python loop (the round-3 kernel
    ran ~30 interpreter steps per doc; at 72k docs that loop was the
    dedup-pipeline wall).  Byte-identical to the per-document form
    (``tests/oracles.py``, asserted in tests): windows crossing document
    boundaries are EXCLUDED by a ragged index gather, never by a sentinel
    (KM variants wrap modulo 2^64, so a sentinel hash could still win a
    minimum)."""
    prime = np.uint64(0x100000001B3)
    bufs = []
    for t in texts:
        b = str(t).lower().encode("utf-8")
        if len(b) < k:
            b = b + b"\x00" * (k - len(b))
        bufs.append(b)
    n_docs = len(bufs)
    if n_docs == 0:
        return np.zeros((0, n_hashes), dtype=np.uint64)
    lens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=n_docs)
    flat = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    # FNV-1a over every flat window (including doc-crossing ones — cheaper
    # to compute than to branch; they are dropped by the gather below)
    win = np.lib.stride_tricks.sliding_window_view(flat, k)
    h1f = np.full(len(win), 0xCBF29CE484222325, np.uint64)
    for j in range(k):
        h1f = (h1f ^ win[:, j].astype(np.uint64)) * prime
    # ragged index of each doc's VALID windows in the flat window array
    nwin = lens - (k - 1)                      # >= 1 (short docs padded)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    total = int(nwin.sum())
    # valid_idx = concat(arange(start_d, start_d + nwin_d))
    doc_of = np.repeat(np.arange(n_docs), nwin)
    within = np.arange(total) - np.repeat(np.cumsum(nwin) - nwin, nwin)
    valid_idx = starts[doc_of] + within
    h1 = h1f[valid_idx]
    h2 = _sm_mix_np(h1) | np.uint64(1)
    red = np.cumsum(nwin) - nwin               # reduceat boundaries
    sig = np.empty((n_docs, n_hashes), dtype=np.uint64)
    for i in range(n_hashes):
        sig[:, i] = np.minimum.reduceat(h1 + np.uint64(i) * h2, red)
    return sig


def minhash_lsh(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                k: int = 5, n_hashes: int = 32, bands: int = 8,
                jaccard_threshold: float = 0.6,
                max_bucket: int = 200) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, est_jaccard) via banded MinHash.

    rows_per_band = n_hashes/bands; a pair collides if any band's slice of
    the signature matches exactly.  est_jaccard = fraction of matching
    minhashes (unbiased estimator); filtered at ``jaccard_threshold``.

    ``max_bucket``: buckets of more rows than this never pair (see
    ``_bucket_pairs``).

    Signatures come from ``minhash_signatures_np``, an Arrow
    ``mapInPandas`` kernel — measured 2-3x faster at sf0.1 than the JVM
    higher-order-function pipeline it replaced (BENCH/IMPROVEMENTS.md)."""
    # Small inputs arrive as ONE parquet split, which would serialize the
    # signature kernel on a single core — spread the rows first.  At scale
    # inputs already have many splits and this is a no-op.
    par = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)
    sig = minhash_signatures_np(docs, text_col, id_col, k, n_hashes)
    return minhash_pairs_from_sig(sig, n_hashes, bands, jaccard_threshold,
                                  max_bucket)


def band_table(sig: DataFrame, n_hashes: int = 32,
               bands: int = 8) -> DataFrame:
    """(_id, band_id, band_hash) LSH band table from a signature table —
    the shared banding step of ``minhash_pairs_from_sig`` and the
    persisted incremental store (``build_minhash_store``)."""
    r = n_hashes // bands
    return sig.select(
        "_id",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band_id"),
                     F.xxhash64(F.concat_ws(",", *[
                         F.element_at("sig", b * r + j + 1).cast("string")
                         for j in range(r)])).alias("band_hash"))
            for b in range(bands)])).alias("band")
    ).select("_id", "band.band_id", "band.band_hash")


def minhash_pairs_from_sig(sig: DataFrame, n_hashes: int = 32,
                           bands: int = 8, jaccard_threshold: float = 0.6,
                           max_bucket: int = 200) -> DataFrame:
    """Banded bucket-pair + estimate stage of ``minhash_lsh`` over a
    precomputed signature table (columns ``_id``, ``sig array<long>``) —
    callable over a persisted signature artifact so an external oracle can
    re-run the same banding/join/estimate SQL-side (band buckets formed by
    xxhash64 of the band tuple here ≡ grouping by the raw tuple there).

    The result comes back materialized and persisted, so the intermediate
    caches are released here; callers owning long sessions may
    ``unpersist()`` it when done."""
    with _Fence() as fence:
        # no counting action of its own: the pair job below is the first to
        # scan sig, and its band scan fills this cache for both re-attach
        # joins (a separate sig.count() job was measured at ~0.4 s of pure
        # latency per call, round 8)
        sig = fence.hold(sig, count=False)
        # ids travel through the buckets; signatures re-attach by id
        pairs = _bucket_pairs(band_table(sig, n_hashes, bands),
                              ["band_id", "band_hash"], [], max_bucket
                              ).dropDuplicates(["id_a", "id_b"])
        out = (pairs.join(_sig_side(sig, "a"), "id_a")
                    .join(_sig_side(sig, "b"), "id_b")
                    .withColumn("est_jaccard", _est_jaccard(n_hashes))
                    .where(F.col("est_jaccard") >= jaccard_threshold)
                    .select("id_a", "id_b",
                            F.round("est_jaccard", 6).alias("est_jaccard")))
        return fence.hold(out, out=True)


def _sig_side(sig: DataFrame, side: str) -> DataFrame:
    """``(id_<side>, sig_<side>)``: a signature table renamed for one side
    of a candidate pair."""
    return sig.select(F.col("_id").alias(f"id_{side}"),
                      F.col("sig").alias(f"sig_{side}"))


def _est_jaccard(n_hashes: int) -> F.Column:
    """Share of equal minhashes between ``sig_a`` and ``sig_b``.  A/B
    measured (round 8): this zip_with/filter form beats a flat 32-term
    element_at comparison sum (1.9 s vs 2.5 s at 600k candidate pairs)."""
    return (F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                            lambda m: m)).cast("double")
            / F.lit(float(n_hashes)))


def _fnv1a64_batch(tokens: list) -> np.ndarray:
    """Vectorized 64-bit FNV-1a (public algorithm) over a batch of byte
    strings -> uint64 array.  NEVER use Python's builtin ``hash()`` in
    executor code: string hashing is salted per process (PYTHONHASHSEED),
    so results would differ across workers.

    The fold is sequential over BYTE POSITIONS but whole-array over tokens:
    scatter all bytes into a (n_tokens, maxlen) uint8 matrix, then loop
    maxlen times (token lengths, ~5-15) doing uint64 xor/multiply on every
    still-live token at once — the round-2 per-byte-per-token Python loop
    ran len(token) x n_tokens interpreter steps instead.  Byte-identical to
    the per-token form in ``tests/oracles.py``
    (test_simhash_vectorized_matches_scalar)."""
    n = len(tokens)
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    lens = np.fromiter((len(t) for t in tokens), dtype=np.int64, count=n)
    maxlen = int(lens.max())
    h = np.full(n, 0xCBF29CE484222325, dtype=np.uint64)
    if maxlen == 0:
        return h
    flat = np.frombuffer(b"".join(tokens), dtype=np.uint8)
    ends = np.cumsum(lens)
    rows = np.repeat(np.arange(n), lens)
    cols = np.arange(len(flat)) - np.repeat(ends - lens, lens)
    mat = np.zeros((n, maxlen), dtype=np.uint8)
    mat[rows, cols] = flat
    prime = np.uint64(0x100000001B3)
    for pos in range(maxlen):
        live = lens > pos
        h[live] = (h[live] ^ mat[live, pos].astype(np.uint64)) * prime
    return h


def simhash_pdf(texts, ids, text_col: str, id_col: str) -> pd.DataFrame:
    """SimHash a batch of texts (vectorized across ALL tokens of the batch):
    one FNV pass over the concatenated token list, bits via ``unpackbits``
    on the hash bytes, per-doc vote sums in ONE ``add.reduceat`` pass over
    the doc-ordered token rows — no per-document Python loop."""
    tok_lists = [str(t).lower().split() for t in texts]
    n_docs = len(tok_lists)
    n_tok = np.fromiter((len(tl) for tl in tok_lists), dtype=np.int64,
                        count=n_docs)
    all_toks = [w.encode("utf-8") for tl in tok_lists for w in tl]
    hs = _fnv1a64_batch(all_toks)
    sig = np.zeros(n_docs, dtype=np.uint64)
    nz = n_tok > 0
    if len(hs):
        # (n_tokens, 64) bit matrix, column j = bit j of the hash
        # (little-endian byte view + per-byte LSB-first unpack)
        bits = np.unpackbits(hs.astype("<u8").view(np.uint8).reshape(-1, 8),
                             axis=1, bitorder="little")
        starts = (np.cumsum(n_tok) - n_tok)[nz]
        # dtype= on the ufunc (NOT bits.astype) — the widened copy of the
        # (n_tokens, 64) matrix was 7x the cost of the reduce itself
        ones = np.add.reduceat(bits, starts, axis=0, dtype=np.int32)
        votes_pos = 2 * ones > n_tok[nz, None]     # votes = 2*ones - n > 0
        weights = (np.uint64(1) << np.arange(64, dtype=np.uint64))
        sig[nz] = votes_pos.astype(np.uint64) @ weights
    return pd.DataFrame({id_col: ids, "simhash": sig.astype(np.int64)})


def simhash_signature(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document (vectorized Arrow batches)."""

    par = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)  # spread single-split inputs (see minhash_lsh)

    def batch(it):
        for pdf in it:
            yield simhash_pdf(pdf[text_col], pdf[id_col], text_col, id_col)

    return docs.select(id_col, text_col).mapInPandas(
        batch, schema=f"{id_col} long, simhash long")


def simhash_pairs(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", max_hamming: int = 3,
                  max_bucket: int = 200) -> DataFrame:
    """Near-duplicate pairs by SimHash: (id_a < id_b, hamming <= max_hamming).

    Pigeonhole bucketing: the 64-bit signature splits into
    ``max_hamming + 1`` blocks — any pair within ``max_hamming`` flipped
    bits matches EXACTLY on at least one block, so candidates form only
    inside (block_id, block_value) buckets (never all-pairs) with 100%
    recall at the stated radius.  Verification is a JVM ``bit_count(xor)``.
    ``max_bucket`` is the same hot-bucket skew guard as ``minhash_lsh``."""
    sig = simhash_signature(docs, text_col, id_col) \
        .withColumnRenamed(id_col, "_id")
    return simhash_pairs_from_sig(sig, max_hamming, max_bucket)


def simhash_blocks(max_hamming: int):
    """(widths, offsets) of the ``max_hamming + 1`` pigeonhole blocks a
    64-bit signature splits into — shared by the Spark pair join and the
    SQL oracle that re-expresses it."""
    n_tables = max_hamming + 1
    widths = [64 // n_tables + (1 if i < 64 % n_tables else 0)
              for i in range(n_tables)]
    offs = [sum(widths[:i]) for i in range(n_tables)]
    return widths, offs


def pigeonhole_block_table(sig: DataFrame,
                           max_hamming: int = 3) -> DataFrame:
    """(_id, simhash, block_id, block_val) pigeonhole table from a
    64-bit signature table — shared by the in-session pair join and the
    persisted incremental phash store."""
    n_tables = max_hamming + 1
    widths, offs = simhash_blocks(max_hamming)
    return sig.select(
        "_id", "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("block_id"),
                F.shiftrightunsigned(F.col("simhash"), offs[b])
                 .bitwiseAND(F.lit((1 << widths[b]) - 1)).alias("block_val"))
            for b in range(n_tables)])).alias("blk")
    ).select("_id", "simhash", "blk.block_id", "blk.block_val")


def simhash_pairs_from_sig(sig: DataFrame, max_hamming: int = 3,
                           max_bucket: int = 200) -> DataFrame:
    """Pigeonhole bucket pairs over a precomputed signature table (columns
    ``_id``, ``simhash``) — the pair stage of ``simhash_pairs``,
    callable over a persisted signature artifact so an external oracle can
    re-run the same join SQL-side."""
    # sig is read once: the block table carries simhash through the buckets
    with _Fence() as fence:
        pairs = _bucket_pairs(pigeonhole_block_table(sig, max_hamming),
                              ["block_id", "block_val"], ["simhash"],
                              max_bucket)
        return fence.hold(_within_hamming(pairs, max_hamming), out=True)


def _within_hamming(pairs: DataFrame, max_hamming: int) -> DataFrame:
    """Candidates carrying ``simhash_a``/``simhash_b`` -> the verified
    ``(id_a, id_b, hamming <= max_hamming)`` pairs, one row per pair."""
    return (pairs.select("id_a", "id_b",
                         F.bit_count(F.col("simhash_a")
                                     .bitwiseXOR(F.col("simhash_b")))
                          .alias("hamming"))
                 .where(F.col("hamming") <= max_hamming)
                 .dropDuplicates(["id_a", "id_b"]))


def phash_pairs(images: DataFrame, id_col: str = "image_id",
                phash_col: str = "phash", max_hamming: int = 3,
                max_bucket: int = 200) -> DataFrame:
    """Image near-duplicate pairs by perceptual-hash Hamming distance:
    (id_a < id_b, hamming <= max_hamming) over the input table's
    ``phash:int64`` column (the BASELINE.json ``input_hint`` carries it
    for exactly this).  Identical machinery to ``simhash_pairs_from_sig``
    — the 64-bit pigeonhole guarantee is hash-agnostic: any pair within
    ``max_hamming`` flipped bits matches exactly on one of the
    ``max_hamming + 1`` blocks, so candidates form only inside
    (block_id, block_value) buckets, verified by a JVM ``bit_count(xor)``.
    Works for long OR string ids (only ``<`` ordering is used).  Feed the
    result into ``components.dedup_corpus`` for the survivor table."""
    sig = images.select(F.col(id_col).alias("_id"),
                        F.col(phash_col).cast("long").alias("simhash"))
    return simhash_pairs_from_sig(sig, max_hamming, max_bucket)


def ngram_jaccard(docs: DataFrame, pairs: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  k: int = 5) -> DataFrame:
    """Exact shingle-Jaccard for candidate (id_a, id_b) pairs.

    The returned DataFrame is materialized + persisted so the shingle-set
    intermediate can be unpersisted here (same cache hygiene as
    ``minhash_lsh``); callers may ``unpersist()`` the result when done."""
    with _Fence() as fence:
        sh = fence.hold(docs.select(
            F.col(id_col).alias("_id"),
            F.array_distinct(shingles(text_col, k)).alias("sh")), count=False)
        j = (pairs
             .join(sh.select(F.col("_id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
             .join(sh.select(F.col("_id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b"))
        inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
        return fence.hold(j.select("id_a", "id_b",
                                   F.round(inter / union, 6).alias("jaccard")),
                          out=True)


# ---------------------------------------------------------------------------
# incremental dedup against a persisted signature store (round 6 — the
# streaming-ingest analog of similarity.append_to_index: a training-data
# pipeline appends documents daily and must reject near-dups of the
# RESIDENT corpus without recomputing anything over it).  A store is
# ``sigs`` (_id + signature), the family's derived bucket table and a
# params sidecar; MinHash and pHash stores share every step below.
# ---------------------------------------------------------------------------

class _Family(NamedTuple):
    """What a store's params sidecar says about its bucket table."""
    derived: str                             # "bands" | "blocks"
    keys: list                               # bucket key columns
    carry: list                              # columns the probe carries
    width: int                               # bucket rows per signature
    table: Callable[[DataFrame], DataFrame]  # sigs -> bucket table


def _family(params: dict) -> _Family:
    if "n_hashes" in params:
        n_hashes, bands = int(params["n_hashes"]), int(params["bands"])
        return _Family("bands", ["band_id", "band_hash"], [], bands,
                       lambda s: band_table(s, n_hashes, bands))
    max_hamming = int(params["max_hamming"])
    return _Family("blocks", ["block_id", "block_val"], ["simhash"],
                   max_hamming + 1,
                   lambda s: pigeonhole_block_table(s, max_hamming))


def _params(spark, path: str) -> dict:
    return spark.read.parquet(f"{path}/params").collect()[0].asDict()


def _build_store(sig: DataFrame, path: str, params: dict) -> None:
    """Write ``sigs``, the bucket table derived from the written sigs, and
    the params sidecar."""
    spark = sig.sparkSession
    fam = _family(params)
    sig.write.mode("overwrite").parquet(f"{path}/sigs")
    fam.table(spark.read.parquet(f"{path}/sigs")) \
        .write.mode("overwrite").parquet(f"{path}/{fam.derived}")
    spark.createDataFrame(pd.DataFrame({k: [v] for k, v in params.items()})) \
        .write.mode("overwrite").parquet(f"{path}/params")


def _store_pairs(spark, path: str, params: dict, new_sig: DataFrame,
                 max_bucket: int | None, broadcast_threshold: int,
                 verify, intra_pairs):
    """The probe both ``incremental_*_pairs`` share -> ``(pairs, new_sig)``,
    both persisted for the caller to release.

    The resident bucket table is only SCANNED: the batch's table
    BROADCASTS against it, so no resident row shuffles.  A batch whose
    table exceeds ``broadcast_threshold`` rows (a large BACKFILL, which
    would OOM as a broadcast) joins sort-merge instead, hint-pinned so
    size statistics cannot flip it back.  Resident hot buckets are a
    property of the STORE and are excluded store-side with
    ``countDistinct``: a crash-replayed append can leave DUPLICATE rows
    (harmless for pairs, which dedupe), and a raw row count would let them
    push a legitimate bucket over the cap — silently disabling near-dup
    detection for it.

    ``verify(cross, new_sig, sigs_dir, small)`` turns the raw probe rows
    (``id_a`` resident, ``id_b`` batch, carried columns) into the
    family's verified pairs; ``intra_pairs(new_sig)`` is its in-batch
    pair stage."""
    from .similarity import _live_dir
    fam = _family(params)
    # a compaction crashed mid-swap leaves the layout under __compact_old —
    # READ it from there; renaming from this (read-only) path would race an
    # in-flight compaction swap (review r7, third pass).  The next
    # append/compaction performs the actual recovery.
    dirs = [f"{path}/sigs", f"{path}/{fam.derived}"]
    live = [_live_dir(d) for d in dirs]
    # fail BEFORE any pair work or sink delivery: with the id widening
    # relaxed in-session, a mistyped batch id would otherwise surface only
    # at append time — after the out_sink already delivered the batch,
    # leaving a permanent poison pill (review r7, third pass)
    _check_store_id_type(spark, path, new_sig)
    with _Fence() as fence:
        new_sig = fence.hold(new_sig, count=False, out=True)
        small = new_sig.count() * fam.width <= broadcast_threshold
        stored = spark.read.parquet(live[1])
        if max_bucket is not None:
            hot = (stored.groupBy(*fam.keys)
                         .agg(F.countDistinct("_id").alias("n"))
                         .where(F.col("n") > max_bucket).select(*fam.keys))
            stored = stored.join(F.broadcast(hot), fam.keys, "left_anti")
        batch = fam.table(new_sig)
        batch = F.broadcast(batch) if small else batch.hint("merge")
        cross = (stored.alias("s")
                       .join(batch.alias("b"), fam.keys)
                       .select(*_pair_cols("s", "b", fam.carry))
                       .where(F.col("id_a") != F.col("id_b")))
        cross = verify(cross, new_sig, live[0], small)
        intra = intra_pairs(new_sig)
        fence.adopt(intra)
        pairs = cross.unionByName(intra)
        if live != dirs:
            # crashed-swap view: checkpoint (not persist) so the pair table
            # survives the writer recovery that the downstream append runs —
            # a persisted plan re-evaluates against the renamed-away path
            # if its partitions are evicted.  Eager: no count needed.
            return pairs.localCheckpoint(eager=True), new_sig
        return fence.hold(pairs, out=True), new_sig


def _append_store(spark, path: str, new_sig: DataFrame,
                  check_id_type: bool) -> int:
    """Both ``append_to_*_store``: append a batch's sigs and bucket rows."""
    from .similarity import _recover_swap
    fam = _family(_params(spark, path))
    # a compaction crashed mid-swap leaves sigs/derived under
    # __compact_old; appending into a fresh root would orphan the store
    _recover_swap(f"{path}/sigs")
    _recover_swap(f"{path}/{fam.derived}")
    if check_id_type:
        _check_store_id_type(spark, path, new_sig)
    # checkpoint: the (semi-join) input evaluates ONCE, not per action.
    # Write order derived THEN sigs: a crash between the files leaves
    # duplicate bucket rows a replay re-appends harmlessly, whereas
    # sigs-without-buckets would trip the same-id replay guard while
    # silently losing CONTENT rejection for those rows forever.  (At
    # deployment both appends belong in one transactional Iceberg
    # commit — SCALE.md checkpoint row.)
    new_sig = new_sig.localCheckpoint(eager=True)
    n = new_sig.count()
    fam.table(new_sig).write.mode("append").parquet(f"{path}/{fam.derived}")
    new_sig.write.mode("append").parquet(f"{path}/sigs")
    return n


def _admit(spark, path: str, new_rows: DataFrame, id_col: str,
           pairs: DataFrame, new_sig: DataFrame, out_sink,
           append) -> DataFrame:
    """admit -> sink -> append -> release, shared by both incremental
    dedups; ``pairs`` and ``new_sig`` are released here, also on failure.
    Returns the accepted rows of ``new_rows``."""
    from .similarity import _live_dir
    with _Fence() as fence:
        fence.adopt(pairs, new_sig)
        new_ids = new_sig.select(F.col("_id").alias(id_col))
        stored_ids = spark.read.parquet(_live_dir(f"{path}/sigs")) \
            .select("_id")
        # localCheckpoint (NOT persist): the append below writes into
        # {path}/sigs, and Spark's InsertIntoHadoopFsRelation refreshes
        # that path's file index — invalidating any CACHED plan that reads
        # it (this plan does, via stored_ids).  A recompute after the
        # append would see the just-accepted rows as resident and reject
        # them.  Checkpointing truncates the plan to materialized blocks
        # with no path dependency, so the returned DataFrame is stable.
        accepted = _admit_batch(new_rows, pairs.select("id_a", "id_b"),
                                new_ids, stored_ids,
                                id_col).localCheckpoint(eager=True)
        if out_sink is not None:
            # deliver BEFORE the store append: a crash after the append but
            # before delivery would make the replay reject these rows as
            # already-resident — accepted docs silently lost from the
            # output forever.  Sink-first + an idempotent per-batch sink
            # narrows the failure window to a mid-append crash, whose
            # residue is duplicate store rows, not lost documents.
            out_sink(accepted)
        append(spark, path,
               new_sig.join(accepted.select(F.col(id_col).alias("_id")),
                            "_id", "left_semi"),
               check_id_type=False)  # checked pre-sink in the pairs step
        return accepted


def build_minhash_store(docs: DataFrame, path: str, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 5,
                        n_hashes: int = 32, bands: int = 8) -> None:
    """Persist the corpus's minhash state: ``sigs`` (_id, sig) and the
    LSH ``bands`` table, plus a params sidecar.  One full pass at build;
    every :func:`incremental_minhash_pairs` batch afterwards touches the
    store only as (a) one SCAN of ``bands`` probed by a BROADCAST of the
    new batch's bands (the resident rows never shuffle), and (b) a
    semi-joined read of ``sigs`` bounded by the candidate count."""
    # store boundary: enforce the canonical integral-or-string id class
    _widened_id_type(docs.schema[id_col].dataType.simpleString(), id_col)
    _build_store(minhash_signatures_np(docs, text_col, id_col, k, n_hashes),
                 path, {"k": k, "n_hashes": n_hashes, "bands": bands})


def incremental_minhash_pairs(spark, path: str, new_docs: DataFrame,
                              text_col: str = "text",
                              id_col: str = "doc_id",
                              jaccard_threshold: float = 0.6,
                              max_bucket: int = 200,
                              broadcast_threshold: int = 1_000_000):
    """Near-dup pairs of a NEW batch against the persisted store AND
    within the batch itself, touching only O(batch + candidates) of the
    resident corpus.  Returns ``(pairs, new_sig)``: pairs carry
    ``id_a``/``id_b``/``est_jaccard`` with id_a from the store side for
    cross pairs (canonical id_a < id_b within the batch); ``new_sig`` is
    the batch signature table for :func:`append_to_minhash_store`.

    Scale shape: the daily batch is small relative to the corpus, so the
    batch's band table BROADCASTS and the resident ``bands`` table is
    only SCANNED (no shuffle of resident rows); signature re-attachment
    reads ``sigs`` through a join keyed by the (bounded) candidate ids.

    ``broadcast_threshold`` (round-6 verdict #3): the daily-trickle
    broadcast assumption breaks on a large BACKFILL batch — broadcasting
    millions of band rows OOMs the driver/executors.  Batches whose band
    table exceeds this row count fall back to a sort-merge join on the
    band key (hint-pinned so size stats can't flip it back), shuffling
    both sides but never materializing the batch in every executor."""
    p = _params(spark, path)
    n_hashes, bands = int(p["n_hashes"]), int(p["bands"])

    def verify(cross, new_sig, sigs_dir, small):
        sb = _sig_side(new_sig, "b")
        # signature re-attachment scales with the batch too
        sb = F.broadcast(sb) if small else sb.hint("merge")
        return (cross.dropDuplicates(["id_a", "id_b"])
                     .join(_sig_side(spark.read.parquet(sigs_dir), "a"),
                           "id_a")
                     .join(sb, "id_b")
                     .withColumn("est_jaccard",
                                 F.round(_est_jaccard(n_hashes), 6))
                     .where(F.col("est_jaccard") >= jaccard_threshold)
                     .select("id_a", "id_b", "est_jaccard")
                     # crash-replay-duplicated sig rows in the store
                     # re-expand the deduped candidates here — dedupe
                     # AFTER attachment too (bounded: candidate-sized)
                     .dropDuplicates(["id_a", "id_b"]))

    return _store_pairs(
        spark, path, p,
        minhash_signatures_np(new_docs, text_col, id_col, int(p["k"]),
                              n_hashes),
        max_bucket, broadcast_threshold, verify,
        lambda sig: minhash_pairs_from_sig(sig, n_hashes, bands,
                                           jaccard_threshold, max_bucket))


def append_to_minhash_store(spark, path: str, new_sig: DataFrame,
                            check_id_type: bool = True) -> int:
    """Append a batch's signatures + bands to the store (call with the
    ACCEPTED subset after dedup so rejected near-dups never pollute the
    store).  Returns the number of rows appended.  ``check_id_type=False``
    skips the resident-schema probe when the caller (the incremental
    paths) already ran it pre-sink — direct callers keep the chokepoint."""
    return _append_store(spark, path, new_sig, check_id_type)


def _admit_batch(new_docs: DataFrame, pairs: DataFrame,
                 new_ids: DataFrame, stored_ids: DataFrame,
                 id_col: str) -> DataFrame:
    """Pure admission set-logic of :func:`incremental_dedup` (separated
    so its edge semantics are unit-testable with handcrafted pairs):

    (a) an id ALREADY RESIDENT is rejected outright — the cross band
        join cannot represent a self-pair (id_a == id_b is filtered), so
        a replayed batch (foreachBatch crash-replay, duplicate feeds)
        would otherwise re-admit its rows and double-append signatures;
    (b) direct near-dups of resident docs are rejected;
    (c) batch-internal clusters collapse to the min-id survivor — but a
        cluster with ANY store-hitting member is rejected WHOLE
        (B~A~S means B transitively duplicates resident S even when B
        never band-matches S directly; the same closure semantics the
        batch path gets from connected components)."""
    from . import components as cc
    already = new_ids.join(stored_ids.withColumnRenamed("_id", id_col),
                           id_col, "left_semi")
    hit_store = (pairs.join(stored_ids.withColumnRenamed("_id", "id_a"),
                            "id_a", "left_semi")
                      .select(F.col("id_b").alias(id_col))
                 .unionByName(
                     pairs.join(stored_ids.withColumnRenamed("_id", "id_b"),
                                "id_b", "left_semi")
                          .select(F.col("id_a").alias(id_col)))
                 .join(new_ids, id_col, "left_semi")
                 .distinct())
    hits = hit_store.unionByName(already).distinct()

    intra = (pairs.join(new_ids.withColumnRenamed(id_col, "id_a"),
                        "id_a", "left_semi")
                  .join(new_ids.withColumnRenamed(id_col, "id_b"),
                        "id_b", "left_semi")
                  .select("id_a", "id_b"))
    comp = cc.connected_components(intra)
    bad_roots = (comp.join(hits.withColumnRenamed(id_col, "node"),
                           "node", "left_semi")
                     .select("root").distinct())
    cluster_reject = (comp.join(F.broadcast(bad_roots), "root", "left_semi")
                          .select(F.col("node").alias(id_col)))
    survivors_in_batch = cc.dedup_corpus(new_docs, intra, id_col=id_col,
                                         components=comp)
    reject = hits.unionByName(cluster_reject).distinct()
    return survivors_in_batch.join(reject, id_col, "left_anti")


def incremental_dedup(spark, path: str, new_docs: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id",
                      jaccard_threshold: float = 0.6,
                      max_bucket: int = 200,
                      out_sink=None,
                      broadcast_threshold: int = 1_000_000) -> DataFrame:
    """Admission control for a new batch: reject rows near-duplicating
    the RESIDENT corpus, collapse duplicate clusters WITHIN the batch to
    their min-id survivor (transitively, via connected components), and
    append only the accepted rows' signatures to the store — "first seen
    wins", the streaming-natural survivor policy.  Returns the accepted
    rows of ``new_docs``.  Re-submitting an already-accepted batch —
    same ids or fresh ids — rejects every row (its first copy now lives
    in the store)."""
    pairs, new_sig = incremental_minhash_pairs(
        spark, path, new_docs, text_col, id_col, jaccard_threshold,
        max_bucket, broadcast_threshold)
    return _admit(spark, path, new_docs, id_col, pairs, new_sig, out_sink,
                  append_to_minhash_store)


def _phash_sig(images: DataFrame, id_col: str, phash_col: str) -> DataFrame:
    """``(_id, simhash)`` store signature table, ``_id`` at the
    store-stable widened type."""
    t = _widened_id_type(images.schema[id_col].dataType.simpleString(),
                         id_col)
    return images.select(F.col(id_col).cast(t).alias("_id"),
                         F.col(phash_col).cast("long").alias("simhash"))


def build_phash_store(images: DataFrame, path: str,
                      id_col: str = "image_id", phash_col: str = "phash",
                      max_hamming: int = 3) -> None:
    """Persist the IMAGE corpus's phash state — the multimodal twin of
    :func:`build_minhash_store`: ``sigs`` (_id, simhash) plus the
    pigeonhole ``blocks`` table and a params sidecar.  Incremental
    batches then touch the resident corpus only as a block scan probed
    by a broadcast (no resident shuffle)."""
    _build_store(_phash_sig(images, id_col, phash_col), path,
                 {"max_hamming": max_hamming})


def incremental_phash_pairs(spark, path: str, new_images: DataFrame,
                            id_col: str = "image_id",
                            phash_col: str = "phash",
                            max_bucket: int = 200,
                            broadcast_threshold: int = 1_000_000):
    """Near-dup pairs of a new image batch vs the persisted phash store
    AND within the batch — same scale shape as
    :func:`incremental_minhash_pairs` (batch blocks broadcast, resident
    rows scanned, hamming verified JVM-side; ``broadcast_threshold``
    guards the backfill case with the same sort-merge fallback).
    Returns ``(pairs, new_sig)``."""
    p = _params(spark, path)
    max_hamming = int(p["max_hamming"])
    return _store_pairs(
        spark, path, p, _phash_sig(new_images, id_col, phash_col),
        max_bucket, broadcast_threshold,
        lambda cross, *_: _within_hamming(cross, max_hamming),
        lambda sig: simhash_pairs_from_sig(sig, max_hamming, max_bucket))


def append_to_phash_store(spark, path: str, new_sig: DataFrame,
                          check_id_type: bool = True) -> int:
    """Image twin of :func:`append_to_minhash_store`: checkpoint once,
    write blocks THEN sigs (same crash-ordering rationale)."""
    return _append_store(spark, path, new_sig, check_id_type)


def incremental_phash_dedup(spark, path: str, new_images: DataFrame,
                            id_col: str = "image_id",
                            phash_col: str = "phash",
                            max_bucket: int = 200,
                            out_sink=None,
                            broadcast_threshold: int = 1_000_000
                            ) -> DataFrame:
    """Image admission control vs the persisted phash store — identical
    semantics to :func:`incremental_dedup` (same ``_admit_batch`` logic:
    resident-id replay rejection, direct near-dup rejection, WHOLE-
    cluster transitive rejection, min-id in-batch survivor), with
    accepted rows' phashes appended (first-seen-wins, durable)."""
    pairs, new_sig = incremental_phash_pairs(
        spark, path, new_images, id_col, phash_col, max_bucket,
        broadcast_threshold)
    return _admit(spark, path, new_images, id_col, pairs, new_sig,
                  out_sink, append_to_phash_store)


def compact_store(spark, path: str, n_files: int = 8) -> dict:
    """Store maintenance (round-6 verdict #2): rewrite a minhash or phash
    signature store in place — dropping crash-replay-duplicated ``_id``
    rows (admission tolerates them; every scan pays for them forever) and
    coalescing the daily-append small files to ``n_files``.  The derived
    table (``bands``/``blocks``) is REGENERATED from the compacted sigs
    with the params sidecar, which both dedupes it and guarantees
    sig/derived consistency.  Admission and pair results are identical
    pre/post (duplicate rows are byte-identical replay copies — the
    same-id admission guard means a differing re-submission never reaches
    the store).  Returns file/row counts so operators see the reclaim.

    Crash ordering: both rewrites go to tmp dirs first, then swap derived
    THEN sigs — a crash between the swaps leaves new-derived/old-sigs,
    whose extra duplicate sig rows are exactly the state this function
    cleans (re-run to converge); queries stay correct throughout because
    pairs ``dropDuplicates`` and the hot-bucket guard ``countDistinct``.
    Each swap itself uses the shared two-rename protocol of
    ``similarity._swap_dir`` with ``_recover_swap`` restoring a
    mid-swap-crashed directory on the next call.  At deployment the whole
    rewrite is one transactional Iceberg ``rewrite_data_files`` —
    SCALE.md checkpoint row."""
    from .similarity import _count_data_files, _recover_swap, _swap_dir

    fam = _family(_params(spark, path))
    spath, dpath = f"{path}/sigs", f"{path}/{fam.derived}"
    _recover_swap(spath)
    _recover_swap(dpath)
    files_before = _count_data_files(spath) + _count_data_files(dpath)
    sigs = spark.read.parquet(spath)
    rows_before = sigs.count()
    ded = sigs.dropDuplicates(["_id"]).coalesce(max(1, n_files))
    rows_after = ded.count()

    stmp, dtmp = spath + "__compact_tmp", dpath + "__compact_tmp"
    ded.write.mode("overwrite").parquet(stmp)
    fam.table(spark.read.parquet(stmp)).coalesce(max(1, n_files)) \
        .write.mode("overwrite").parquet(dtmp)

    for live, tmp in ((dpath, dtmp), (spath, stmp)):  # derived THEN sigs
        _swap_dir(live, tmp)
    return {"store": "minhash" if fam.derived == "bands" else "phash",
            "files_before": files_before,
            "files_after": _count_data_files(spath) + _count_data_files(dpath),
            "rows_before": rows_before, "rows_after": rows_after,
            "dup_rows_dropped": rows_before - rows_after}
