"""Distributed connected components + duplicate-corpus survivor selection.

The dedup end-game (round-5 verdict #1): every pair generator in this
package (``minhash_lsh``, ``simhash_pairs``, ``phash_pairs``,
``embedding_dup_pairs``, ``exact_dedup``) stops at PAIRS; turning pairs
into "the deduplicated table" needs the transitive closure — A~B and B~C
must collapse to ONE survivor even though A and C never paired directly.

``connected_components`` implements the alternating large-star /
small-star algorithm (Kiveris et al., "Connected Components in MapReduce
and Beyond", SoCC 2014 — public literature): each round is two window
steps over the edge list, converging in O(log n) rounds REGARDLESS of
component diameter (plain min-label propagation needs O(diameter)
rounds — a pathological near-dup chain at 100 TB could be millions
long).  It stops at the first star forest (every component a star whose
center is its minimum node id — the fixpoint), with no confirming round.

Scale shape per round: three exchanges keyed on node ids (a window on u
per star step, one distinct; doc/image ids are well-distributed, and a
hub's rows share one window partition, which spills), edge count never
exceeds the input edge count after the first canonicalization, and each
round is localCheckpoint-ed so both the data AND the logical plan stay
O(1) deep.  One aggregate over node roles per round materializes that
checkpoint and decides whether the edges form a star forest yet.

No SQL oracle can express the iteration, but the driver query d6 writes
the PAIR artifact and DuckDB re-derives the same components with a
recursive CTE — transitive closure IS ANSI-SQL-expressible at test scale.

[ref: the reference repo has no dedup analogue — this is part of the
LLM-training-data pipeline surface the build brief adds on top.]
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _canon(e: DataFrame) -> DataFrame:
    """Undirected edge set -> canonical (u > v), self-loops dropped."""
    return (e.select(F.greatest("u", "v").alias("u"),
                     F.least("u", "v").alias("v"))
             .where(F.col("u") != F.col("v"))
             .distinct())


def _star_check(e: DataFrame):
    """(edge count, is_star_forest) of a canonical edge set, in one job:
    a star forest iff every node that is some edge's larger end ``u``
    touches no other edge.  As ``u > v``, each centre is then its star's
    minimum — a fixpoint of both star steps."""
    row = (e.selectExpr("inline(array(struct(u AS n, 1 AS is_u), "
                        "struct(v AS n, 0 AS is_u)))")
            .groupBy("n").agg(F.sum("is_u").alias("nu"),
                              F.count("*").alias("c"))
            .selectExpr("sum(nu) AS edges", "bool_or(nu > 0 AND c > 1) AS bad")
            .collect()[0])
    return row["edges"] or 0, not row["bad"]


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b", max_iter: int = 50,
                         stats: dict | None = None) -> DataFrame:
    """Pair graph -> (node, root) for every node that appears in a pair;
    ``root`` is the component's minimum node id.  Nodes in no pair are
    absent (they are their own singleton component by definition —
    ``dedup_corpus`` keeps them via the anti-join).

    Works over long OR string ids (only ``<`` ordering is used).  Pass a
    dict as ``stats`` to receive ``iterations`` (star rounds run before
    the first star forest — 0 when the input is one) and ``edges`` (input
    edge count after canonicalization) — the bench's rounds evidence."""
    e = _canon(pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v")))
    # localCheckpoint (NOT just persist): each round windows over the
    # previous result, so without truncation the LOGICAL PLAN grows per
    # round — analysis/optimization time explodes long before the data
    # does.  Checkpointing materializes the blocks AND cuts the lineage,
    # keeping every round's plan O(1) deep.  (On a real cluster with
    # executor loss concerns, set a reliable checkpoint dir; the shape is
    # identical.)  The checkpoint is LAZY: _star_check's one job
    # materializes it, and its edge count doubles as the empty check.
    e = e.localCheckpoint(eager=False)
    n_edges, star = _star_check(e)
    if n_edges == 0:
        schema_src = pairs.select(F.col(id_a).alias("node"),
                                  F.col(id_a).alias("root"))
        return schema_src.limit(0)

    it = 0
    while not star:
        if it == max_iter:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} "
                "large/small-star iterations (O(log n) expected — this "
                "indicates a bug, not a data property)")
        # -- large-star: for each u over the UNDIRECTED neighborhood,
        #    m = min(N(u) + {u}); emit (v, m) for the LARGER neighbors only.
        #    m <= u < v, so every row is already canonical; duplicates are
        #    harmless to small-star's min and removed by its _canon.
        nbrs = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        ls = (nbrs.withColumn("m", F.least(
                      F.min("v").over(Window.partitionBy("u")), "u"))
                  .where(F.col("v") > F.col("u"))
                  .select(F.col("v").alias("u"), F.col("m").alias("v")))
        # -- small-star: edges canonical (u > v); for each u,
        #    m = min of its smaller neighbors; rewire them all (and u) to m
        j = ls.withColumn("m", F.min("v").over(Window.partitionBy("u")))
        ss = _canon(j.select(F.col("u"), F.col("m").alias("v"))
                     .unionByName(
                         j.where(F.col("v") != F.col("m"))
                          .select(F.col("v").alias("u"),
                                  F.col("m").alias("v"))))
        e = ss.localCheckpoint(eager=False)
        _, star = _star_check(e)   # one job: materializes the checkpoint
        it += 1
    if stats is not None:
        stats.update(edges=n_edges, iterations=it)

    # star forest: every edge is (member, component-min); roots map to
    # themselves.  A root never appears on the u side of a star.
    comp = e.select(F.col("u").alias("node"), F.col("v").alias("root"))
    roots = (e.select(F.col("v").alias("node")).distinct()
              .withColumn("root", F.col("node")))
    return comp.unionByName(roots)


def component_stats(comp: DataFrame) -> DataFrame:
    """(root, n_members) per duplicate cluster — monitoring surface."""
    return comp.groupBy("root").agg(F.count("*").alias("n_members"))


def cross_modal_corpus(docs: DataFrame, images: DataFrame,
                       text_col: str = "text", id_col: str = "doc_id",
                       image_id_col: str = "image_id",
                       caption_col: str = "caption") -> DataFrame:
    """The namespaced union corpus for cross-modal dedup:
    (``node_id`` = 'doc:'+doc_id | 'img:'+image_id, ``modality``,
    ``text`` = document text | image caption).  The shared text column is
    what lets one MinHash pass connect a caption-duplicate image to its
    text twin."""
    d = docs.select(
        F.concat(F.lit("doc:"), F.col(id_col).cast("string"))
         .alias("node_id"),
        F.lit("doc").alias("modality"),
        F.col(text_col).alias("text"))
    i = images.select(
        F.concat(F.lit("img:"), F.col(image_id_col).cast("string"))
         .alias("node_id"),
        F.lit("img").alias("modality"),
        F.col(caption_col).alias("text"))
    return d.unionByName(i)


def cross_modal_pairs(docs: DataFrame, images: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id",
                      image_id_col: str = "image_id",
                      caption_col: str = "caption",
                      phash_col: str = "phash",
                      k: int = 5, n_hashes: int = 32, bands: int = 8,
                      jaccard_threshold: float = 0.6,
                      max_hamming: int = 3,
                      max_bucket: int = 200) -> DataFrame:
    """Duplicate edges across BOTH modalities (round-6 verdict #6):
    (id_a < id_b, source) with namespaced ids.

    - ``source='text'``: one MinHash-LSH pass over the UNION of document
      text and image captions — so an image whose caption duplicates a
      document's text gets an edge to that document, and caption-duplicate
      images edge to each other.
    - ``source='phash'``: perceptual-hash Hamming pairs over the images,
      in the same ``img:`` namespace.

    Scale shape is unchanged from the parts: one signature scan over the
    union corpus (captions are just more rows), and each generator pairs
    inside its buckets with one exchange on the bucket key and the same
    hot-bucket guard.  ``connected_components`` downstream is
    id-type-agnostic, so a cluster spanning {doc:…, img:…} collapses to
    one root — a caption-duplicate image cluster merges with its text
    twin even when the two modalities never co-paired directly."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    from . import dedup
    corpus = cross_modal_corpus(docs, images, text_col, id_col,
                                image_id_col, caption_col)

    # the two pair generators are INDEPENDENT jobs, each one bucket
    # exchange plus the hold that materializes its result — run them
    # concurrently so one's small jobs back-fill the other's idle
    # executors (optimization guide §2.6; results are unioned after both
    # finish, so output is unchanged).  inheritable_thread_target(session)
    # keeps the job tags and local properties of the calling thread.
    def _text_pairs():
        return dedup.minhash_lsh(corpus, text_col="text", id_col="node_id",
                                 k=k, n_hashes=n_hashes, bands=bands,
                                 jaccard_threshold=jaccard_threshold,
                                 max_bucket=max_bucket)

    def _image_pairs():
        return dedup.phash_pairs(
            images.select(
                F.concat(F.lit("img:"), F.col(image_id_col).cast("string"))
                 .alias(image_id_col),
                F.col(phash_col)),
            id_col=image_id_col, phash_col=phash_col,
            max_hamming=max_hamming, max_bucket=max_bucket)

    spark = docs.sparkSession
    with dedup._Fence() as fence:
        with ThreadPoolExecutor(max_workers=2) as pool:
            futs = [pool.submit(inheritable_thread_target(spark)(fn))
                    for fn in (_text_pairs, _image_pairs)]
        # the pool has waited for both: hand every result to the fence
        # before raising either failure, so the sibling's persisted pairs
        # are released too.  On success they are released once the union
        # is materialized (review r7); callers unpersist() the result.
        fence.adopt(*(f.result() for f in futs if f.exception() is None))
        tp, ip = (f.result() for f in futs)
        out = (tp.select("id_a", "id_b", F.lit("text").alias("source"))
                 .unionByName(
                     ip.select("id_a", "id_b", F.lit("phash").alias("source")))
                 .dropDuplicates(["id_a", "id_b"]))
        return fence.hold(out, out=True)


def cross_modal_dedup(docs: DataFrame, images: DataFrame,
                      keep: str = "min_id",
                      order_col: str | None = None,
                      **pair_kwargs) -> DataFrame:
    """Survivor table over the namespaced union corpus: one survivor per
    cross-modal duplicate component, every unpaired row kept.  Columns
    (node_id, modality, text); split survivors back per modality by the
    ``modality`` column (or the id prefix)."""
    corpus = cross_modal_corpus(
        docs, images,
        text_col=pair_kwargs.get("text_col", "text"),
        id_col=pair_kwargs.get("id_col", "doc_id"),
        image_id_col=pair_kwargs.get("image_id_col", "image_id"),
        caption_col=pair_kwargs.get("caption_col", "caption"))
    pairs = cross_modal_pairs(docs, images, **pair_kwargs)
    # connected_components checkpoints its edge input lazily, and its
    # first star-forest check materializes that checkpoint — so the
    # persisted pair table can be released before survivor selection
    comp = connected_components(pairs)
    pairs.unpersist()
    return dedup_corpus(corpus, pairs, id_col="node_id",
                        keep=keep, order_col=order_col, components=comp)


def dedup_corpus(docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                 keep: str = "min_id", order_col: str | None = None,
                 components: DataFrame | None = None) -> DataFrame:
    """The deduplicated table: one survivor per duplicate component, all
    unpaired rows kept.  Composition: ``minhash_lsh`` (or any pair
    generator) -> ``connected_components`` -> survivor anti-join.

    ``keep='min_id'``: survivor = component root (no extra join).
    ``keep='max_order'``: survivor = the member maximizing ``order_col``
    (e.g. a length or quality score), ties broken by min id — one extra
    broadcast-sized join of the component mapping to the doc attributes.

    Pass a precomputed ``components`` mapping to amortize one closure
    across several survivor policies."""
    comp = components if components is not None \
        else connected_components(pairs)
    if keep == "min_id":
        losers = (comp.where(F.col("node") != F.col("root"))
                      .select(F.col("node").alias(id_col)))
    elif keep == "max_order":
        if not order_col:
            raise ValueError("keep='max_order' requires order_col=")
        attrs = docs.select(F.col(id_col).alias("node"), order_col)
        w = Window.partitionBy("root").orderBy(
            F.col(order_col).desc(), F.col("node").asc())
        losers = (comp.join(attrs, "node")
                      .withColumn("_rk", F.row_number().over(w))
                      .where(F.col("_rk") > 1)
                      .select(F.col("node").alias(id_col)))
    else:
        raise ValueError(f"keep must be 'min_id' or 'max_order', got "
                         f"{keep!r}")
    return docs.join(losers, id_col, "left_anti")
