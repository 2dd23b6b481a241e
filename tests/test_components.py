"""Connected components + survivor selection (the dedup end-game) and
phash image near-dup pairs — round-5 verdict items #1/#2."""

from collections import Counter

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geo_raster_spark.operators import components as cc
from geo_raster_spark.operators import dedup


def _union_find(pairs):
    """Test-side oracle: classic union-find over the same pair list."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _cc_dict(spark, pairs, **kw):
    pdf = pd.DataFrame(pairs, columns=["id_a", "id_b"])
    df = spark.createDataFrame(pdf)
    out = cc.connected_components(df, **kw)
    got = {r["node"]: r["root"] for r in out.collect()}
    out.unpersist()
    return got


def test_components_planted_chain(spark):
    """A~B~C collapses to one component rooted at A even though A,C never
    pair directly — the exact transitivity pairs alone cannot express."""
    got = _cc_dict(spark, [(10, 20), (20, 30)])
    assert got == {10: 10, 20: 10, 30: 10}


def test_components_random_graph_vs_union_find(spark):
    """200-node random sparse graph (chains, cliques, singleton edges,
    components merging late) matches a union-find oracle exactly."""
    rng = np.random.default_rng(42)
    pairs = [(int(a), int(b)) for a, b in rng.integers(0, 200, (150, 2))
             if a != b]
    # a long chain forces many hops (diameter >> log n)
    pairs += [(1000 + i, 1000 + i + 1) for i in range(40)]
    want = _union_find(pairs)
    comp = cc.connected_components(
        spark.createDataFrame(pd.DataFrame(pairs, columns=["id_a", "id_b"])))
    got = {r["node"]: r["root"] for r in comp.collect()}
    assert got == want
    # component_stats: members per root == the union-find component sizes
    sizes = {r["root"]: r["n_members"]
             for r in cc.component_stats(comp).collect()}
    comp.unpersist()
    assert sizes == Counter(want.values())


def test_components_string_ids_and_empty(spark):
    got = _cc_dict(spark, [("img_b", "img_a"), ("img_b", "img_c"),
                           ("img_x", "img_y")])
    assert got == {"img_a": "img_a", "img_b": "img_a", "img_c": "img_a",
                   "img_x": "img_x", "img_y": "img_x"}
    empty = spark.createDataFrame(pd.DataFrame({"id_a": [1], "id_b": [2]})) \
                 .where(F.lit(False))
    assert cc.connected_components(empty).count() == 0


def test_dedup_corpus_min_id_and_max_order(spark):
    """Survivor policies: min_id keeps the root; max_order keeps the
    longest text (ties -> min id); unpaired docs always survive."""
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5, 6],
        "text": ["aa", "aaaa", "aaa", "zz", "yy", "xxxx"],
    }))
    pairs = spark.createDataFrame(pd.DataFrame(
        {"id_a": [1, 2, 4], "id_b": [2, 3, 5]}))  # {1,2,3}, {4,5}; 6 alone
    comp = cc.connected_components(pairs)

    kept_min = sorted(r["doc_id"] for r in
                      cc.dedup_corpus(docs, pairs, components=comp)
                        .collect())
    assert kept_min == [1, 4, 6]

    # max_order over an explicit length column
    docs_len = docs.withColumn("text_len", F.length("text"))
    kept_long = sorted(r["doc_id"] for r in
                       cc.dedup_corpus(docs_len, pairs, keep="max_order",
                                       order_col="text_len",
                                       components=comp).collect())
    assert kept_long == [2, 4, 6]  # 2 longest in {1,2,3}; tie {4,5} -> 4
    comp.unpersist()

    with pytest.raises(ValueError, match="order_col"):
        cc.dedup_corpus(docs, pairs, keep="max_order")
    with pytest.raises(ValueError, match="keep"):
        cc.dedup_corpus(docs, pairs, keep="first")


def test_minhash_to_corpus_pipeline(spark, sf_dir):
    """End-to-end: planted near-dup CHAIN through minhash_lsh ->
    components -> survivor anti-join.  The chain A->B->C (each step one
    token appended) must collapse to A regardless of whether A~C also
    paired directly."""
    d = (spark.read.parquet(f"{sf_dir}/documents.parquet")
              .select("doc_id", "text"))
    base = d.orderBy("doc_id").limit(3)
    b = base.select((F.col("doc_id") + 10_000_000).alias("doc_id"),
                    F.concat("text", F.lit(" nearcopy")).alias("text"))
    c = b.select((F.col("doc_id") + 10_000_000).alias("doc_id"),
                 F.concat("text", F.lit(" again")).alias("text"))
    both = d.unionByName(b).unionByName(c)
    pairs = dedup.minhash_lsh(both, jaccard_threshold=0.5)
    kept = cc.dedup_corpus(both, pairs.select("id_a", "id_b"))
    kept_ids = {r["doc_id"] for r in kept.collect()}
    planted_b = {r["doc_id"] + 10_000_000 for r in base.collect()}
    planted_c = {i + 10_000_000 for i in planted_b}
    # every planted copy collapsed into its original
    assert not (kept_ids & (planted_b | planted_c))
    assert {r["doc_id"] for r in base.collect()} <= kept_ids
    pairs.unpersist()


def test_phash_pairs_planted_near_dups(spark):
    """phash Hamming near-dups: planted copies within <= k flipped bits
    are found (100% recall via pigeonhole blocks), a 20-bit-away pair is
    not, and hamming values are exact."""
    from geo_raster_spark import synth
    imgs = synth.images_df(spark, 60, 4, with_bytes=False) \
        .select("image_id", "phash")
    pdf = imgs.toPandas()
    seeds = pdf.iloc[:5]
    rows = []
    for j, (_, r) in enumerate(seeds.iterrows()):
        flips = [1 << (7 * j + k) for k in range(j % 3 + 1)]  # 1..3 bits
        ph = np.int64(r["phash"])
        for fbit in flips:
            ph = np.int64(np.uint64(ph) ^ np.uint64(fbit))
        rows.append({"image_id": r["image_id"] + "_dup", "phash": ph})
    # a far-away decoy: 20 bits flipped from seed 0
    far = np.uint64(np.int64(seeds.iloc[0]["phash"]))
    for k in range(20):
        far ^= np.uint64(1) << np.uint64(3 * k)
    rows.append({"image_id": seeds.iloc[0]["image_id"] + "_far",
                 "phash": np.int64(far)})
    allimgs = spark.createDataFrame(
        pd.concat([pdf, pd.DataFrame(rows)], ignore_index=True))

    got = dedup.phash_pairs(allimgs, max_hamming=3)
    found = {(r["id_a"], r["id_b"]): r["hamming"] for r in got.collect()}
    got.unpersist()
    for j, (_, r) in enumerate(seeds.iterrows()):
        key = tuple(sorted([r["image_id"], r["image_id"] + "_dup"]))
        assert key in found and found[key] == j % 3 + 1
    assert not any("_far" in a or "_far" in b for a, b in found)


def test_components_clique_and_hub_skew(spark):
    """Degree skew: a 60-node clique (1,770 pairs) plus a 50-leaf hub
    star — the shapes boilerplate dedup actually produces — and a
    20,000-leaf hub with a 30-link chain hanging off one leaf, which puts
    one large partition under each star step's ``Window.partitionBy("u")``.
    All must collapse to single components quickly (well under max_iter)
    and match union-find."""
    clique = [(i, j) for i in range(100, 160) for j in range(100, i)]
    hub = [(5000, 5000 + k) for k in range(1, 51)]
    big_hub = [(10**6, 10**6 + k) for k in range(1, 20_001)]
    tail = [(10**6 + 7 + 10**5 * i, 10**6 + 7 + 10**5 * (i + 1))
            for i in range(30)]
    for pairs, roots in (
            (clique + hub, {100, 5000}),
            (big_hub + tail, {10**6})):
        stats = {}
        got = _cc_dict(spark, pairs, stats=stats)
        assert got == _union_find(pairs)
        assert set(got.values()) == roots
        assert stats["iterations"] <= 6


def test_components_stop_at_first_star_forest(spark):
    """The loop stops at the first star forest: no confirming round, and
    an input that already is one runs no star round at all.  Also pins the
    Spark jobs of a call (the chain's one round included) and the
    ``max_iter`` guard."""
    jsc = spark.sparkContext._jsc.sc()
    disjoint, chain = [(1, 2), (3, 4)], [(10, 20), (20, 30)]
    for pairs, rounds in ((disjoint, 0), (chain, 1)):
        df = spark.createDataFrame(pd.DataFrame(pairs,
                                                columns=["id_a", "id_b"]))
        stats = {}
        job0 = jsc.dagScheduler().nextJobId()
        got = {r["node"]: r["root"] for r in
               cc.connected_components(df, stats=stats).collect()}
        jobs = jsc.dagScheduler().nextJobId() - job0
        assert got == _union_find(pairs)
        assert stats["iterations"] == rounds
        assert jobs <= 12, jobs

    with pytest.raises(RuntimeError, match="did not converge"):
        _cc_dict(spark, chain, max_iter=0)
    assert _cc_dict(spark, disjoint, max_iter=0) == _union_find(disjoint)


def test_phash_dedup_corpus_end_to_end(spark):
    """Image-level dedup END-TO-END: phash_pairs -> dedup_corpus over an
    images table — near-dup copies (<= 2 flipped bits) drop, originals
    and the far decoy survive."""
    from geo_raster_spark import synth
    imgs = synth.images_df(spark, 40, 4, with_bytes=False) \
        .select("image_id", "phash", "caption")
    pdf = imgs.toPandas()
    extra = []
    for _, r in pdf.iloc[:4].iterrows():
        extra.append({"image_id": r["image_id"] + "_c1",
                      "phash": np.int64(np.uint64(r["phash"]) ^ np.uint64(3)),
                      "caption": r["caption"]})
        extra.append({"image_id": r["image_id"] + "_c2",
                      "phash": np.int64(np.uint64(r["phash"]) ^ np.uint64(5)),
                      "caption": r["caption"]})
    allimgs = spark.createDataFrame(
        pd.concat([pdf, pd.DataFrame(extra)], ignore_index=True))
    pairs = dedup.phash_pairs(allimgs, max_hamming=3)
    kept = cc.dedup_corpus(allimgs, pairs.select("id_a", "id_b"),
                           id_col="image_id")
    kept_ids = {r["image_id"] for r in kept.collect()}
    assert not any(i.endswith(("_c1", "_c2")) for i in kept_ids)
    assert set(pdf["image_id"]) <= kept_ids
    pairs.unpersist()


# (_id, k1, k2, c) rows of handcrafted buckets; ids are names, mapped to
# strings or to longs whose order differs from the names'
_BUCKET_ROWS = (
    [("p", 0, 0, 1), ("p", 0, 0, 2), ("q", 0, 0, 3),   # duplicate _id rows
     ("p", 0, 1, 4), ("w", 0, 1, 5),                   # (0, 1) apart from (0, 0)
     ("r", 1, 0, 6), ("s", 1, 0, 7),
     ("r", 1, 1, 8), ("s", 1, 1, 9)]                   # r~s in two buckets
    + [(f"t{i}", 2, 0, 10 + i) for i in range(4)]      # exactly max_bucket
    + [(f"u{i}", 2, 1, 20 + i) for i in range(5)]      # max_bucket + 1
    + [("u0", 3, 1, 30), ("v2", 3, 1, 31),             # hot member pairs here
       ("v", 3, 0, 40)])                               # singleton


def _brute_bucket_pairs(rows, keys, carry, max_bucket):
    """Test-side oracle of ``dedup._bucket_pairs``: a pandas self-join on
    the bucket key, buckets over ``max_bucket`` raw rows dropped first."""
    t = pd.DataFrame(rows, columns=["_id", "k1", "k2", "c"]) \
          .dropna(subset=keys)
    if max_bucket is not None:
        t = t[t.groupby(keys)["_id"].transform("size") <= max_bucket]
    j = t.merge(t, on=keys, suffixes=("_a", "_b"))
    j = j[j["_id_a"] < j["_id_b"]]
    cols = ["_id_a", "_id_b", *[f"{c}_{s}" for c in carry for s in "ab"]]
    return Counter(map(tuple, j[cols].to_numpy().tolist()))


def test_bucket_pairs_match_bruteforce_self_join(spark):
    """The bucket pair stage emits exactly the multiset of a self-join:
    duplicate ``_id`` rows pair once per row, a pair sharing two buckets
    appears twice, a bucket of ``max_bucket`` rows is kept and one of
    ``max_bucket + 1`` dropped (all kept with ``None``), for string and
    long ids, with and without a carried column and a two-column key."""
    names = sorted({r[0] for r in _BUCKET_ROWS})
    as_long = {n: 1000 - 7 * i for i, n in enumerate(names)}
    for id_type, to_id in (("string", str), ("long", as_long.get)):
        rows = [(to_id(n), *rest) for n, *rest in _BUCKET_ROWS]
        table = spark.createDataFrame(
            rows, f"_id {id_type}, k1 int, k2 int, c int")
        for keys, carry in ((["k1", "k2"], ["c"]), (["k1"], [])):
            for max_bucket in (4, None):
                got = dedup._bucket_pairs(table, keys, carry, max_bucket)
                assert got.columns == ["id_a", "id_b", *[
                    f"{c}_{s}" for c in carry for s in "ab"]]
                want = _brute_bucket_pairs(rows, keys, carry, max_bucket)
                case = (id_type, keys, max_bucket)
                assert Counter(map(tuple, got.collect())) == want, case
                assert want, case


def test_bucket_pairs_skip_null_keys(spark):
    """Rows whose bucket key has a NULL never pair — as in an equi-join —
    even with no ``max_bucket`` to drop their (shared) group; and
    ``phash_pairs`` over images with many NULL phashes returns the pairs
    it returns without them."""
    from geo_raster_spark import synth
    rows = ([(i, None, 0) for i in range(6)]
            + [(10 + i, 0, None) for i in range(6)]
            + [(20, 1, 0), (21, 1, 0)])
    table = spark.createDataFrame(rows, "_id long, k1 long, k2 long")
    k1_zero = {(a, b) for a in range(10, 16) for b in range(a + 1, 16)}
    for keys, want in ((["k1"], k1_zero | {(20, 21)}),
                       (["k1", "k2"], {(20, 21)})):
        got = dedup._bucket_pairs(table, keys, [], None).collect()
        assert sorted(map(tuple, got)) == sorted(want), keys

    pdf = synth.images_df(spark, 40, 4, with_bytes=False) \
        .select("image_id", "phash").toPandas()
    dups = pdf.iloc[:5].assign(
        image_id=lambda d: d["image_id"] + "_dup",
        phash=lambda d: (d["phash"].to_numpy().view(np.uint64)
                         ^ np.uint64(6)).view(np.int64))
    imgs = pd.concat([pdf, dups], ignore_index=True)
    nulls = pd.DataFrame({"image_id": [f"null_{i}" for i in range(40)],
                          "phash": None})
    schema = "image_id string, phash long"
    want = dedup.phash_pairs(spark.createDataFrame(imgs, schema),
                             max_bucket=None)
    got = dedup.phash_pairs(
        spark.createDataFrame(pd.concat([imgs, nulls], ignore_index=True),
                              schema), max_bucket=None)
    assert sorted(got.collect()) == sorted(want.collect())
    assert want.count() >= 5
    got.unpersist()
    want.unpersist()


def test_bucket_pairs_drop_hot_bucket_before_collecting(spark):
    """A bucket far over ``max_bucket`` yields no pair while its members
    still pair through their other buckets, and it is dropped by the
    bucket count below the per-bucket ``collect_list`` — never gathered
    into one list — inside the one exchange on the bucket key."""
    hot = spark.range(5000).select(F.col("id").alias("_id"),
                                   F.lit(0).alias("k"),
                                   F.col("id").alias("c"))
    small = spark.createDataFrame([(0, 1, 0), (1, 1, 1), (7, 2, 7)],
                                  "_id long, k int, c long")
    got = dedup._bucket_pairs(hot.unionByName(small), ["k"], ["c"], 200)
    # the plan prints top-down: the count and the filter on it lie below
    # the collect
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    collect, count = plan.index("collect_list"), plan.index("count(1)")
    assert collect < plan.index("Filter", collect) < count, plan
    assert sorted(map(tuple, got.collect())) == [(0, 1, 0, 1)]


def test_minhash_pairs_run_signature_kernel_once(spark):
    """``minhash_pairs_from_sig`` holds ``sig`` lazily and its pair job
    fills the cache: the signature rows feeding both the buckets and the
    two re-attach joins are each computed exactly once, and the pairs
    equal those of the unwrapped call."""
    rng = np.random.default_rng(11)
    vocab = [f"w{i:03d}x" for i in range(400)]
    base = [" ".join(rng.choice(vocab, 30)) for _ in range(1500)]
    near = [" ".join(t.split()[:-1] + ["edited"]) for t in base[:300]]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": np.arange(1800), "text": base + near}),
        "doc_id long, text string")
    sig = dedup.minhash_signatures_np(docs)
    computed = spark.sparkContext.accumulator(0)

    def counted(it):
        for pdf in it:
            computed.add(len(pdf))
            yield pdf

    got = dedup.minhash_pairs_from_sig(sig.mapInPandas(counted, sig.schema))
    assert computed.value == 1800
    want = dedup.minhash_pairs_from_sig(sig)
    assert sorted(got.collect()) == sorted(want.collect())
    assert want.count() >= 300
    got.unpersist()
    want.unpersist()


def test_incremental_minhash_store_admission(spark, sf_dir, tmp_path):
    """Incremental dedup against a persisted signature store (the
    streaming-ingest path): near-copies of RESIDENT docs are rejected
    without touching the resident corpus beyond a band scan; fresh docs
    are accepted; in-batch copies collapse to their min-id survivor; and
    re-submitting the same batch rejects everything (first-seen-wins is
    durable across calls)."""
    d = (spark.read.parquet(f"{sf_dir}/documents.parquet")
              .select("doc_id", "text"))
    path = str(tmp_path / "mh_store")
    dedup.build_minhash_store(d, path)
    n0 = spark.read.parquet(f"{path}/sigs").count()

    stored = d.orderBy("doc_id").limit(2).collect()
    batch = spark.createDataFrame(pd.DataFrame([
        # near-copies of resident docs -> must be rejected
        {"doc_id": 20_000_001, "text": stored[0]["text"] + " nearcopy"},
        {"doc_id": 20_000_002, "text": stored[1]["text"] + " nearcopy"},
        # fresh content -> accepted
        {"doc_id": 20_000_003,
         "text": "completely original text about penguins and glaciers "
                 "that is long enough to shingle meaningfully"},
        # in-batch near-copy of the fresh doc -> loses to min id
        {"doc_id": 20_000_004,
         "text": "completely original text about penguins and glaciers "
                 "that is long enough to shingle meaningfully extra"},
    ]))
    accepted = dedup.incremental_dedup(spark, path, batch,
                                       jaccard_threshold=0.5)
    got = sorted(r["doc_id"] for r in accepted.collect())
    assert got == [20_000_003]
    # only the accepted row entered the store
    assert spark.read.parquet(f"{path}/sigs").count() == n0 + 1
    accepted.unpersist()

    # idempotence with FRESH ids: content near-dups of accepted rows
    batch2 = batch.withColumn("doc_id", F.col("doc_id") + 10)
    accepted2 = dedup.incremental_dedup(spark, path, batch2,
                                        jaccard_threshold=0.5)
    assert accepted2.count() == 0
    assert spark.read.parquet(f"{path}/sigs").count() == n0 + 1
    accepted2.unpersist()

    # idempotence with the SAME ids (foreachBatch crash-replay shape):
    # resident ids are rejected outright, nothing double-appends —
    # the cross band join cannot see a self-pair, so this is the
    # `already`-resident guard (review find r6)
    accepted3 = dedup.incremental_dedup(spark, path, batch,
                                        jaccard_threshold=0.5)
    assert accepted3.count() == 0
    assert spark.read.parquet(f"{path}/sigs").count() == n0 + 1
    accepted3.unpersist()


def test_admit_batch_transitive_cluster_rejection(spark):
    """Unit semantics of the admission logic (handcrafted pairs):
    a batch cluster whose NON-surviving member duplicates the resident
    corpus is rejected WHOLE — its min-id survivor transitively
    duplicates the store through the chain B~A~S even though B never
    pairs with S directly."""
    docs = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [3, 5, 9], "text": ["b", "a", "free"]}))
    new_ids = docs.select("doc_id")
    stored = spark.createDataFrame(pd.DataFrame({"_id": [100]}))
    # S=100 ~ A=5 (cross); B=3 ~ A=5 (intra); 9 unpaired
    pairs = spark.createDataFrame(pd.DataFrame(
        {"id_a": [100, 3], "id_b": [5, 5]}))
    kept = dedup._admit_batch(docs, pairs, new_ids, stored, "doc_id")
    assert sorted(r["doc_id"] for r in kept.collect()) == [9]
    # without the store hit, the same cluster admits its min-id survivor
    pairs2 = spark.createDataFrame(pd.DataFrame(
        {"id_a": [3], "id_b": [5]}))
    kept2 = dedup._admit_batch(docs, pairs2, new_ids, stored, "doc_id")
    assert sorted(r["doc_id"] for r in kept2.collect()) == [3, 9]
    # same-id replay: a new id equal to a resident id is rejected even
    # with no pairs at all
    stored3 = spark.createDataFrame(pd.DataFrame({"_id": [9]}))
    kept3 = dedup._admit_batch(docs, pairs2.limit(0), new_ids, stored3,
                               "doc_id")
    assert sorted(r["doc_id"] for r in kept3.collect()) == [3, 5]


def test_cli_dedup_end_to_end(spark, sf_dir, tmp_path):
    """The dedup end-game is user-reachable from the CLI: docs parquet in,
    survivors parquet out, machine-readable stats on stdout."""
    import io
    import json
    from contextlib import redirect_stdout

    from geo_raster_spark import cli

    out_dir = str(tmp_path / "unique")
    buf = io.StringIO()
    with redirect_stdout(buf):
        cli.main(["--cores", "8", "dedup",
                  "--docs", f"{sf_dir}/documents.parquet",
                  "--out", out_dir, "--threshold", "0.5"])
    stats = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert stats["n_survivors"] == stats["n_docs"] - stats["n_dropped"]
    assert stats["cc_rounds"] is not None or stats["n_pairs"] == 0
    kept = spark.read.parquet(out_dir)
    assert kept.count() == stats["n_survivors"]
    assert kept.select("doc_id").distinct().count() == stats["n_survivors"]


def test_incremental_dedup_bad_id_type_fails_before_sink(spark, sf_dir,
                                                         tmp_path):
    """Review r7, third pass: a mistyped batch id must raise BEFORE the
    out_sink delivers anything — a post-sink failure would leave a
    permanent poison pill (rows delivered downstream whose signatures
    never enter the store, re-delivering and re-raising every replay)."""
    d = (spark.read.parquet(f"{sf_dir}/documents.parquet")
              .select("doc_id", "text"))
    path = str(tmp_path / "mh_type")
    dedup.build_minhash_store(d, path)
    bad = d.limit(3).withColumn("doc_id", F.col("doc_id").cast("double"))
    delivered = []
    with pytest.raises(ValueError, match="mix parquet schemas"):
        dedup.incremental_dedup(spark, path, bad,
                                out_sink=delivered.append)
    assert delivered == []

    # phash twin: the strict store-id widening trips first, same timing
    base = spark.createDataFrame(pd.DataFrame(
        {"image_id": np.array([1, 2], dtype=np.int64),
         "phash": np.array([111, 222], dtype=np.int64)}))
    ppath = str(tmp_path / "ph_type")
    dedup.build_phash_store(base, ppath)
    badp = spark.createDataFrame(pd.DataFrame(
        {"image_id": [1.5, 2.5], "phash": [3.0, 9.0]}))
    with pytest.raises(ValueError, match="integral or string"):
        dedup.incremental_phash_dedup(spark, ppath, badp,
                                      out_sink=delivered.append)
    assert delivered == []


def test_cli_compact_store(spark, sf_dir, tmp_path):
    """Store maintenance is operator-reachable from the CLI: replay
    residue in, reclaim stats out, duplicates gone."""
    import io
    import json
    from contextlib import redirect_stdout

    from geo_raster_spark import cli
    from geo_raster_spark.operators.dedup import minhash_signatures_np

    d = (spark.read.parquet(f"{sf_dir}/documents.parquet")
              .select("doc_id", "text"))
    path = str(tmp_path / "mh_cli")
    dedup.build_minhash_store(d, path)
    n0 = spark.read.parquet(f"{path}/sigs").count()
    extra = (d.limit(5).withColumn("doc_id", F.col("doc_id") + 60_000_000)
               .withColumn("text", F.concat(F.col("text"),
                                            F.lit(" clicompact"))))
    p = spark.read.parquet(f"{path}/params").collect()[0]
    sig = minhash_signatures_np(extra, "text", "doc_id",
                                int(p["k"]), int(p["n_hashes"]))
    dedup.append_to_minhash_store(spark, path, sig)
    dedup.append_to_minhash_store(spark, path, sig)   # replay residue

    buf = io.StringIO()
    with redirect_stdout(buf):
        cli.main(["--cores", "8", "compact", "--store", path])
    stats = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert stats["store"] == "minhash"
    assert stats["dup_rows_dropped"] == 5
    assert stats["rows_after"] == n0 + 5
    assert stats["files_after"] <= stats["files_before"]
    assert spark.read.parquet(f"{path}/sigs").count() == n0 + 5


def test_embedding_pairs_dedup_corpus_end_to_end(spark, sf_dir):
    """Completes the composition matrix: EMBEDDING near-dup pairs
    (knn_pairs_exact) feed the same components/survivor machinery as
    minhash (text) and phash (image) pairs — planted near-identical
    vectors collapse to their min-id representative."""
    from pyspark.sql import functions as F2

    from geo_raster_spark.operators import similarity
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    seeds = emb.orderBy("vec_id").limit(3)
    planted = seeds.select(
        (F2.col("vec_id") + 10_000_000).alias("vec_id"),
        F2.transform("embedding",
                     lambda x: x + F2.lit(1e-6)).alias("embedding"))
    allv = emb.select("vec_id", "embedding").unionByName(planted)
    pairs = similarity.knn_pairs_exact(allv, dim=64, threshold=0.999,
                                       id_col="vec_id")
    kept = cc.dedup_corpus(allv, pairs.select("id_a", "id_b"),
                           id_col="vec_id")
    kept_ids = {r["vec_id"] for r in kept.collect()}
    planted_ids = {r["vec_id"] + 10_000_000 for r in seeds.collect()}
    assert not (kept_ids & planted_ids)          # copies collapsed
    assert {r["vec_id"] for r in seeds.collect()} <= kept_ids
    pairs.unpersist()


def test_incremental_phash_store_admission(spark, tmp_path):
    """Image admission vs the persisted phash store: near-dup phashes of
    RESIDENT images (<= max_hamming bits) are rejected, fresh images
    accepted, in-batch copies collapse, same-id replay rejected, store
    grows only by accepted rows — the multimodal twin of the minhash
    store test."""
    from geo_raster_spark import synth
    imgs = synth.images_df(spark, 50, 4, with_bytes=False) \
        .select("image_id", "phash")
    path = str(tmp_path / "ph_store")
    dedup.build_phash_store(imgs, path)
    n0 = spark.read.parquet(f"{path}/sigs").count()

    stored = imgs.orderBy("image_id").limit(2).collect()
    fresh_ph = np.int64(0x123456789ABCDEF)
    batch = spark.createDataFrame(pd.DataFrame([
        # 2-bit flip of a resident phash -> rejected
        {"image_id": "new_a",
         "phash": np.int64(np.uint64(stored[0]["phash"]) ^ np.uint64(5))},
        # fresh phash -> accepted
        {"image_id": "new_b", "phash": fresh_ph},
        # in-batch 1-bit copy of the fresh one -> loses to min id (new_b)
        {"image_id": "new_c",
         "phash": np.int64(np.uint64(fresh_ph) ^ np.uint64(8))},
    ]))
    accepted = dedup.incremental_phash_dedup(spark, path, batch)
    assert sorted(r["image_id"] for r in accepted.collect()) == ["new_b"]
    assert spark.read.parquet(f"{path}/sigs").count() == n0 + 1
    accepted.unpersist()

    # same-id replay (crash-replay shape): everything rejected, no growth
    accepted2 = dedup.incremental_phash_dedup(spark, path, batch)
    assert accepted2.count() == 0
    assert spark.read.parquet(f"{path}/sigs").count() == n0 + 1
    accepted2.unpersist()


def test_incremental_backfill_merge_fallback(spark, sf_dir, tmp_path):
    """Round-6 verdict #3: a large BACKFILL batch must not broadcast —
    above ``broadcast_threshold`` the store-probe join falls back to a
    hint-pinned sort-merge join with IDENTICAL pairs.  Auto-broadcast is
    disabled for the plan check so the only possible BroadcastExchange
    is the one the code adds explicitly."""
    d = (spark.read.parquet(f"{sf_dir}/documents.parquet")
              .select("doc_id", "text"))
    path = str(tmp_path / "mh_bf")
    dedup.build_minhash_store(d, path)
    batch = d.limit(8).withColumn("doc_id", F.col("doc_id") + 30_000_000)

    old_auto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold",
                             None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        # backfill path first (plan-checked), THEN the broadcast path —
        # Spark's cache lookup canonicalizes hints away, so the second
        # call would silently reuse the first call's cached pairs; the
        # unpersist between them keeps both plans honest
        big, _sig1 = dedup.incremental_minhash_pairs(
            spark, path, batch, jaccard_threshold=0.5, max_bucket=None,
            broadcast_threshold=0)
        plan = big._sc._jvm.PythonSQLUtils.explainString(
            big._jdf.queryExecution(), "formatted")
        assert "BroadcastExchange" not in plan
        assert "SortMergeJoin" in plan
        got_big = sorted((r["id_a"], r["id_b"], r["est_jaccard"])
                         for r in big.collect())
        big.unpersist()
        _sig1.unpersist()

        small, _sig2 = dedup.incremental_minhash_pairs(
            spark, path, batch, jaccard_threshold=0.5, max_bucket=None)
        plan2 = small._sc._jvm.PythonSQLUtils.explainString(
            small._jdf.queryExecution(), "formatted")
        assert "BroadcastExchange" in plan2   # the daily-trickle fast path
        got_small = sorted((r["id_a"], r["id_b"], r["est_jaccard"])
                           for r in small.collect())
        small.unpersist()
        _sig2.unpersist()
        assert got_big == got_small and len(got_big) > 0

        # phash twin: same fallback, same pairs
        from geo_raster_spark import synth
        imgs = synth.images_df(spark, 40, 4, with_bytes=False) \
            .select("image_id", "phash")
        ppath = str(tmp_path / "ph_bf")
        dedup.build_phash_store(imgs, ppath)
        st = imgs.orderBy("image_id").limit(3).collect()
        pbatch = spark.createDataFrame(pd.DataFrame([
            {"image_id": f"bf_{i}",
             "phash": np.int64(np.uint64(r["phash"]) ^ np.uint64(1))}
            for i, r in enumerate(st)]))
        pbig, _ps1 = dedup.incremental_phash_pairs(
            spark, ppath, pbatch, max_bucket=None, broadcast_threshold=0)
        pplan = pbig._sc._jvm.PythonSQLUtils.explainString(
            pbig._jdf.queryExecution(), "formatted")
        assert "BroadcastExchange" not in pplan
        got_pbig = sorted((r["id_a"], r["id_b"]) for r in pbig.collect())
        pbig.unpersist()
        _ps1.unpersist()
        psmall, _ps2 = dedup.incremental_phash_pairs(
            spark, ppath, pbatch, max_bucket=None)
        got_psmall = sorted((r["id_a"], r["id_b"])
                            for r in psmall.collect())
        psmall.unpersist()
        _ps2.unpersist()
        assert got_pbig == got_psmall and len(got_pbig) >= 3
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_auto)
        if old_aqe is None:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold",
                           old_aqe)


def test_compact_store_minhash_and_phash(spark, sf_dir, tmp_path):
    """Round-6 verdict #2 (store side): compaction must drop
    crash-replay-duplicated sig/band rows, shrink the file count, and
    leave pairs + admission results identical pre/post."""
    d = (spark.read.parquet(f"{sf_dir}/documents.parquet")
              .select("doc_id", "text"))
    path = str(tmp_path / "mh_comp")
    dedup.build_minhash_store(d, path)
    n0 = spark.read.parquet(f"{path}/sigs").count()

    # crash-replay residue: the SAME accepted batch appended twice
    extra = (d.limit(5).withColumn("doc_id", F.col("doc_id") + 40_000_000)
               .withColumn("text", F.concat(F.col("text"),
                                            F.lit(" compacttest"))))
    p = spark.read.parquet(f"{path}/params").collect()[0]
    from geo_raster_spark.operators.dedup import minhash_signatures_np
    sig = minhash_signatures_np(extra, "text", "doc_id",
                                int(p["k"]), int(p["n_hashes"]))
    dedup.append_to_minhash_store(spark, path, sig)
    dedup.append_to_minhash_store(spark, path, sig)   # the replay
    assert spark.read.parquet(f"{path}/sigs").count() == n0 + 10

    probe = d.limit(6).withColumn("doc_id", F.col("doc_id") + 50_000_000)
    before, _s1 = dedup.incremental_minhash_pairs(
        spark, path, probe, jaccard_threshold=0.5)
    got_before = sorted((r["id_a"], r["id_b"], r["est_jaccard"])
                        for r in before.collect())
    before.unpersist()
    _s1.unpersist()
    # replay-duplicated sig rows must NOT re-expand into duplicate pair
    # rows (operator fix found by this test in round 7)
    assert len(got_before) == len({(a, b) for a, b, _ in got_before})

    rep = dedup.compact_store(spark, path, n_files=2)
    assert rep["store"] == "minhash"
    assert rep["dup_rows_dropped"] == 5
    assert rep["rows_after"] == n0 + 5
    assert rep["files_after"] < rep["files_before"]
    sigs = spark.read.parquet(f"{path}/sigs").toPandas()
    assert sigs["_id"].is_unique

    after, _s2 = dedup.incremental_minhash_pairs(
        spark, path, probe, jaccard_threshold=0.5)
    got_after = sorted((r["id_a"], r["id_b"], r["est_jaccard"])
                       for r in after.collect())
    after.unpersist()
    _s2.unpersist()
    assert got_after == got_before and len(got_after) > 0
    # re-run converges: nothing left to drop
    rep2 = dedup.compact_store(spark, path, n_files=2)
    assert rep2["dup_rows_dropped"] == 0

    # phash twin
    from geo_raster_spark import synth
    imgs = synth.images_df(spark, 40, 4, with_bytes=False) \
        .select("image_id", "phash")
    ppath = str(tmp_path / "ph_comp")
    dedup.build_phash_store(imgs, ppath)
    psig = (imgs.limit(4)
                .select(F.concat(F.lit("rep_"), F.col("image_id"))
                         .alias("_id"),
                        F.col("phash").cast("long").alias("simhash")))
    dedup.append_to_phash_store(spark, ppath, psig)
    dedup.append_to_phash_store(spark, ppath, psig)   # the replay
    st = imgs.orderBy("image_id").limit(3).collect()
    pprobe = spark.createDataFrame(pd.DataFrame([
        {"image_id": f"cp_{i}",
         "phash": np.int64(np.uint64(r["phash"]) ^ np.uint64(2))}
        for i, r in enumerate(st)]))
    pbefore, _p1 = dedup.incremental_phash_pairs(spark, ppath, pprobe,
                                                 max_bucket=None)
    got_pb = sorted((r["id_a"], r["id_b"], r["hamming"])
                    for r in pbefore.collect())
    pbefore.unpersist()
    _p1.unpersist()
    prep = dedup.compact_store(spark, ppath, n_files=2)
    assert prep["store"] == "phash" and prep["dup_rows_dropped"] == 4
    pafter, _p2 = dedup.incremental_phash_pairs(spark, ppath, pprobe,
                                                max_bucket=None)
    got_pa = sorted((r["id_a"], r["id_b"], r["hamming"])
                    for r in pafter.collect())
    pafter.unpersist()
    _p2.unpersist()
    assert got_pa == got_pb and len(got_pa) >= 3


def test_cross_modal_dedup_planted_cluster(spark):
    """Round-6 verdict #6: one dedup pass over the union of text-minhash
    and image-phash pairs with namespaced ids.  Planted cluster: doc:1's
    text == img:A and img:B's caption (text edges doc:1~img:A~img:B), and
    img:B ~ img:C by a 2-bit phash flip (phash edge) — the WHOLE
    {doc:1, img:A, img:B, img:C} cluster must collapse to one survivor
    even though doc:1 and img:C share neither text nor phash."""
    lorem = ("the quick brown fox jumps over the lazy dog and then "
             "keeps running through the mossy quiet forest for hours "
             "until the river bends north past the old stone mill")
    other = ("completely different content about spark shuffle "
             "partitioning strategies broadcast joins and adaptive "
             "query execution at the hundred terabyte scale")
    third = ("a third unrelated document concerning raster tile "
             "pyramids overview resampling and geotiff compression "
             "parameters for satellite imagery archives")
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["1", "2"], "text": [lorem, other]}))
    base = np.int64(0x0123456789ABCDEF)
    images = spark.createDataFrame(pd.DataFrame({
        "image_id": ["A", "B", "C", "D"],
        "caption": [lorem, lorem, third, other[:40] + " unrelated tail "
                    "words making this caption share nothing"],
        "phash": [np.int64(-0x7EDCBA0987654321), base,
                  np.int64(base ^ 0x0000000000000011),   # 2 bits from B
                  np.int64(0x7000000000000001)]}))

    pairs = cc.cross_modal_pairs(docs, images, jaccard_threshold=0.5)
    got = {(r.id_a, r.id_b, r.source) for r in pairs.collect()}
    assert ("doc:1", "img:A", "text") in got
    assert ("img:A", "img:B", "text") in got or \
           ("doc:1", "img:B", "text") in got
    assert ("img:B", "img:C", "phash") in got
    # no spurious edges into doc:2 / img:D
    assert not any("doc:2" in (a, b) or "img:D" in (a, b)
                   for a, b, _ in got)

    survivors = cc.cross_modal_dedup(docs, images, jaccard_threshold=0.5)
    rows = {r.node_id: r.modality for r in survivors.collect()}
    # the 4-node cluster keeps exactly its min id (doc:1); unpaired rows
    # (doc:2, img:D) survive untouched
    assert set(rows) == {"doc:1", "doc:2", "img:D"}
    assert rows["doc:1"] == "doc"

    # cross-check the component against the union-find oracle
    comp = cc.connected_components(pairs.select("id_a", "id_b"))
    want = _union_find([(r.id_a, r.id_b)
                        for r in pairs.select("id_a", "id_b").collect()])
    got_comp = {r.node: r.root for r in comp.collect()}
    comp.unpersist()
    assert got_comp == want
    cluster = {n for n, r in got_comp.items() if r == "doc:1"}
    assert cluster == {"doc:1", "img:A", "img:B", "img:C"}


def test_store_swap_recovery_and_id_widening(spark, sf_dir, tmp_path):
    """Round-7 review closures on the signature stores:
    (a) a compaction crashed between its two renames leaves the live dir
        under __compact_old — the next append recovers it instead of
        appending into a fresh root (which would orphan the store);
    (b) integral id widths all widen to long on disk, so an int32 batch
        appended to a store built from int64 ids cannot wedge later
        reads with mixed-type parquet files; non-integral/non-string id
        types raise."""
    import os

    d = (spark.read.parquet(f"{sf_dir}/documents.parquet")
              .select("doc_id", "text"))
    path = str(tmp_path / "mh_rec")
    dedup.build_minhash_store(d, path)
    n0 = spark.read.parquet(f"{path}/sigs").count()

    # (a) simulate the mid-swap crash window
    os.rename(f"{path}/sigs", f"{path}/sigs__compact_old")
    extra = (d.limit(3)
              .withColumn("doc_id",
                          (F.col("doc_id") + 60_000_000).cast("int"))
              .withColumn("text", F.concat("text", F.lit(" recv"))))
    p = spark.read.parquet(f"{path}/params").collect()[0]
    from geo_raster_spark.operators.dedup import minhash_signatures_np
    sig = minhash_signatures_np(extra, "text", "doc_id",
                                int(p["k"]), int(p["n_hashes"]))
    # (b) int32 input id arrives widened to long in the signature table
    assert dict(sig.dtypes)["_id"] == "bigint"
    dedup.append_to_minhash_store(spark, path, sig)
    stored = spark.read.parquet(f"{path}/sigs")
    assert stored.count() == n0 + 3          # resident rows recovered
    assert dict(stored.dtypes)["_id"] == "bigint"

    # non-integral, non-string id types stay usable for IN-SESSION pair
    # generation (ids only flow through joins) but the STORE boundary
    # raises loudly (review r7, second pass)
    bad = d.limit(2).withColumn("doc_id", F.col("doc_id").cast("double"))
    assert dict(minhash_signatures_np(bad, "text", "doc_id", 5,
                                      32).dtypes)["_id"] == "double"
    with pytest.raises(ValueError, match="integral or string"):
        dedup.build_minhash_store(bad, str(tmp_path / "bad_store"))
    # append chokepoint: a batch whose _id type differs from the
    # resident store raises instead of mixing parquet schemas
    str_sig = spark.createDataFrame(
        pd.DataFrame({"_id": ["s1", "s2"],
                      "sig": [[1] * int(p["n_hashes"])] * 2}))
    with pytest.raises(ValueError, match="mix parquet schemas"):
        dedup.append_to_minhash_store(spark, path, str_sig)

    # a mid-swap crash: the incremental READ path serves the
    # pre-compaction __compact_old view WITHOUT renaming — a reader
    # cannot tell a crashed swap from one in flight, so renaming from a
    # query would race a live compaction (review r7, third pass).  The
    # next WRITER (here: compaction) performs the actual recovery.
    os.rename(f"{path}/bands", f"{path}/bands__compact_old")
    probe = d.limit(2).withColumn("doc_id", F.col("doc_id") + 70_000_000)
    rpairs, rsig = dedup.incremental_minhash_pairs(spark, path, probe)
    rpairs.unpersist()
    rsig.unpersist()
    assert not os.path.isdir(f"{path}/bands")      # reader left it alone
    assert os.path.isdir(f"{path}/bands__compact_old")
    dedup.compact_store(spark, path)               # writer recovers
    assert os.path.isdir(f"{path}/bands")
    assert not os.path.isdir(f"{path}/bands__compact_old")

    # phash twin: recovery on blocks + widened int id
    from geo_raster_spark import synth
    imgs = synth.images_df(spark, 20, 4, with_bytes=False) \
        .select(F.xxhash64("image_id").cast("int").alias("image_id"),
                "phash")
    ppath = str(tmp_path / "ph_rec")
    dedup.build_phash_store(imgs, ppath)
    assert dict(spark.read.parquet(f"{ppath}/sigs").dtypes)["_id"] \
        == "bigint"
    pn0 = spark.read.parquet(f"{ppath}/blocks").count()
    os.rename(f"{ppath}/blocks", f"{ppath}/blocks__compact_old")
    psig = spark.createDataFrame(
        pd.DataFrame({"_id": np.arange(2, dtype=np.int64) + 90_000_000,
                      "simhash": np.array([3, 9], dtype=np.int64)}))
    dedup.append_to_phash_store(spark, ppath, psig)
    assert spark.read.parquet(f"{ppath}/blocks").count() > pn0


def _caches(spark):
    """(ids of the persisted RDDs, number of cached plans)."""
    return (set(spark.sparkContext._jsc.getPersistentRDDs().keySet()),
            spark._jsparkSession.sharedState().cacheManager()
                 .numCachedEntries())


def _leaked(spark, before, local_checkpoints=False):
    """Persisted RDDs and cached plans taken since ``before`` and still
    held.  ``local_checkpoints=True`` leaves out locally checkpointed
    RDDs: they hold the data of a checkpointed result, and only the JVM's
    context cleaner releases them, once nothing references them."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    new = sorted(i for i in _caches(spark)[0] - before[0]
                 if not (local_checkpoints
                         and rdds.get(i).rdd().isLocallyCheckpointed()))
    return new, _caches(spark)[1] - before[1]


def test_pair_stages_release_caches_on_failure(spark, sf_dir, tmp_path):
    """Every public dedup/ANN pair operator releases the caches it took
    when its pair stage raises — and, once the caller unpersists the
    result, after success too.  The failure is a ``raise_error`` column in
    the input.  In ``cross_modal_pairs`` only the image side fails, so the
    text side's persisted pairs (its sibling thread's) must be released."""
    from geo_raster_spark import synth
    from geo_raster_spark.operators import similarity

    def boom(df, key, col):
        first = df.agg(F.min(key)).collect()[0][0]
        return df.withColumn(col, F.when(F.col(key) == first,
                                         F.raise_error(F.lit("planted")))
                                   .otherwise(F.col(col)))

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
                 .select("doc_id", "text").limit(60))
    imgs = synth.images_df(spark, 40, 4, with_bytes=False) \
        .select("image_id", "phash", F.col("image_id").alias("caption"))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select("vec_id", "embedding").limit(60)
    mh_path, ph_path = str(tmp_path / "mh"), str(tmp_path / "ph")
    dedup.build_minhash_store(docs, mh_path)
    dedup.build_phash_store(imgs, ph_path)
    bad_docs, bad_imgs = boom(docs, "doc_id", "text"), boom(imgs, "image_id",
                                                            "phash")
    new_id = F.col("doc_id") + 50_000_000
    new_img = F.concat(F.lit("new_"), "image_id")
    ops = [  # (name, operator, failing input, succeeding input)
        ("minhash_lsh", dedup.minhash_lsh, bad_docs, docs),
        ("phash_pairs", dedup.phash_pairs, bad_imgs, imgs),
        ("knn_pairs_exact",
         lambda e: similarity.knn_pairs_exact(e, dim=64,
                                              center=np.zeros(64)),
         boom(emb, "vec_id", "embedding"), emb),
        ("cross_modal_pairs", lambda i: cc.cross_modal_pairs(docs, i),
         bad_imgs, imgs),
        ("incremental_dedup",
         lambda d: dedup.incremental_dedup(
             spark, mh_path, d.withColumn("doc_id", new_id)),
         bad_docs, docs),
        ("incremental_phash_dedup",
         lambda i: dedup.incremental_phash_dedup(
             spark, ph_path, i.withColumn("image_id", new_img)),
         bad_imgs, imgs),
    ]
    for name, op, bad, good in ops:
        before = _caches(spark)
        with pytest.raises(Exception, match="planted"):
            op(bad)
        assert _leaked(spark, before) == ([], 0), name

        before = _caches(spark)
        op(good).unpersist()
        # the incremental paths return (and build on) local checkpoints
        assert _leaked(spark, before, local_checkpoints=True) == ([], 0), \
            name
