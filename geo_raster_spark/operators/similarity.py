"""Embedding similarity search (ANN) over an ``array<float>`` column.

- ``cosine_topk``      brute-force exact top-k against one probe vector —
                       dot product + norms as JVM higher-order functions
                       (``zip_with`` + ``aggregate``), ranked by a window.
                       The correctness baseline.
- ``lsh_bucket``       random-hyperplane (sign) LSH: ``n_planes`` seeded
                       projections -> sign-bit bucket id.  Deterministic
                       planes from SplitMix64, shipped as literals.
- ``lsh_topk``         ANN: probe only its bucket (+optional 1-bit flips) —
                       the scale path: candidates shrink ~2^n_planes-fold
                       and the bucket join is an equi-join.
- ``knn_pairs_exact``  all-pairs top-k within LSH buckets (near-dup by
                       embedding cosine for dedup pipelines).
"""

from __future__ import annotations

import os
import re
import shutil
import uuid

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..synth import splitmix64

# every index build writes its assignments under this batch partition; each
# append_to_index batch gets its own sibling batch_id=<id> directory so a
# crash-replayed batch OVERWRITES itself instead of double-inserting
_BUILD_BATCH = "__build__"
_BATCH_ID_RE = re.compile(r"^[A-Za-z0-9._-]+$")


def _count_data_files(path: str) -> int:
    """Data-file count of a (local) parquet layout — the small-files
    pressure stat surfaced in the drift report.  At deployment the table
    format's manifest answers this without a filesystem walk (Iceberg
    ``files`` metadata table) — SCALE.md."""
    n = 0
    for _root, _dirs, files in os.walk(path):
        n += sum(1 for f in files
                 if f.endswith(".parquet") and not f.startswith("_"))
    return n


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine_sim(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b) + F.lit(1e-30))


def probe_literal(vec) -> F.Column:
    return F.array(*[F.lit(float(v)) for v in vec])


def _topk(scored: DataFrame, k: int, id_col: str) -> DataFrame:
    """Parallel top-k: ``orderBy().limit(k)`` plans as TakeOrderedAndProject
    (per-partition partial top-k + one merge) — a global ``Window.orderBy``
    would funnel EVERY row through a single task.  ``rank`` is re-derived by
    a window over only the k surviving rows (bounded, one tiny task).  The
    (cosine desc, id asc) total order makes both formulations pick the same
    rows deterministically."""
    order = [F.col("cosine").desc(), F.col(id_col).asc()]
    top = scored.orderBy(*order).limit(k)
    return top.withColumn("rank", F.row_number().over(Window.orderBy(*order)))


def cosine_topk(emb: DataFrame, probe_vec, k: int = 10,
                vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Exact brute-force top-k by cosine to ``probe_vec`` (JVM-side math)."""
    p = probe_literal(probe_vec)
    scored = emb.select(
        id_col,
        F.round(cosine_sim(F.col(vec_col).cast("array<double>"), p), 8).alias("cosine"))
    return _topk(scored, k, id_col)


def random_planes(dim: int, n_planes: int, seed: int = 7) -> np.ndarray:
    """Deterministic hyperplanes: SplitMix64-seeded uniform in [-1, 1]."""
    idx = np.arange(dim * n_planes, dtype=np.uint64) + np.uint64(seed * 1_000_003)
    u = splitmix64(idx).astype(np.float64) / 2.0 ** 64
    return (2.0 * u - 1.0).reshape(n_planes, dim)


def data_mean(emb: DataFrame, dim: int, vec_col: str = "embedding") -> np.ndarray:
    """Exact per-dimension mean (one pass; sample at 100 TB scale)."""
    row = emb.select(F.array(*[
        F.avg(F.element_at(F.col(vec_col).cast("array<double>"), i + 1))
        for i in range(dim)]).alias("mu")).collect()[0]
    return np.array(row["mu"], dtype=np.float64)


def with_lsh_bucket(emb: DataFrame, dim: int, n_planes: int = 8, seed: int = 7,
                    vec_col: str = "embedding",
                    center: np.ndarray | None = None) -> DataFrame:
    """+ ``bucket`` column: sign-bit code over ``n_planes`` projections.

    ``center``: sign-LSH splits through the origin, so non-centered data
    (e.g. all-positive embeddings) collapses into few buckets — pass the
    data mean to recenter; the offset folds into a per-plane constant."""
    planes = random_planes(dim, n_planes, seed)
    offs = planes @ center if center is not None else np.zeros(n_planes)
    bucket = F.lit(0).cast("long")
    v = F.col(vec_col).cast("array<double>")
    for b, plane in enumerate(planes):
        proj = _dot(v, probe_literal(plane)) - F.lit(float(offs[b]))
        bucket = bucket + F.when(proj >= 0, F.lit(1 << b)).otherwise(F.lit(0)).cast("long")
    return emb.withColumn("bucket", bucket)


def _bucket_of(vec: np.ndarray, planes: np.ndarray,
               center: np.ndarray | None = None) -> int:
    v = np.asarray(vec, dtype=np.float64)
    if center is not None:
        v = v - center
    return int(((planes @ v) >= 0).astype(np.int64) @ (1 << np.arange(len(planes))))


def _multiprobe_buckets(b0: int, n_planes: int, multiprobe_bits: int) -> set:
    """All buckets within Hamming distance <= multiprobe_bits of ``b0``
    (the FULL shell, not just single-bit flips)."""
    import itertools
    cand_buckets = {b0}
    for d in range(1, min(multiprobe_bits, n_planes) + 1):
        for bits in itertools.combinations(range(n_planes), d):
            flip = 0
            for b in bits:
                flip |= 1 << b
            cand_buckets.add(b0 ^ flip)
    return cand_buckets


def lsh_topk(emb: DataFrame, probe_vec, k: int = 10, dim: int | None = None,
             n_planes: int = 8, seed: int = 7, multiprobe_bits: int = 1,
             vec_col: str = "embedding", id_col: str = "vec_id",
             center: np.ndarray | None = None) -> DataFrame:
    """ANN top-k: scan only the probe's bucket (+ buckets within
    ``multiprobe_bits`` bit flips for recall).

    ``center``: precomputed per-dimension data mean for the recentering
    offset.  When omitted it is computed here with a FULL-TABLE aggregate —
    acceptable for one-off exploration, but at scale pass a precomputed
    center or (better) use ``build_lsh_index`` + ``lsh_topk_indexed`` so a
    query never pays a full pass."""
    probe_vec = np.asarray(probe_vec, dtype=np.float64)
    dim = dim or len(probe_vec)
    planes = random_planes(dim, n_planes, seed)
    mu = (np.asarray(center, dtype=np.float64) if center is not None
          else data_mean(emb, dim, vec_col))
    b0 = _bucket_of(probe_vec, planes, mu)
    cand_buckets = _multiprobe_buckets(b0, n_planes, multiprobe_bits)

    bucketed = with_lsh_bucket(emb, dim, n_planes, seed, vec_col, center=mu)
    cand = bucketed.where(F.col("bucket").isin(list(cand_buckets)))
    return cosine_topk(cand, probe_vec, k, vec_col, id_col)


def build_lsh_index(emb: DataFrame, dim: int, path: str,
                    n_planes: int = 8, seed: int = 7,
                    vec_col: str = "embedding") -> np.ndarray:
    """Persist a sign-LSH index: bucketed assignments parquet PARTITIONED BY
    ``bucket`` + a stats sidecar holding (dim, n_planes, seed, data mean).

    Build pays the one full pass (the recentering mean + the bucket write);
    every ``lsh_topk_indexed`` query then reads ONLY its candidate bucket
    partitions and the one-row sidecar — no per-query full-table aggregate
    (the round-2 scale defect in ``lsh_topk``).  Same on-disk shape as
    ``build_ivf_index``: ``assignments/batch_id=__build__/bucket=*`` — the
    batch_id level exists so :func:`append_to_index` deliveries are
    idempotent per batch; a rebuild's static overwrite clears the whole
    layout including stale append batches."""
    import pandas as pd
    _clear_index_residue(path)
    mu = data_mean(emb, dim, vec_col)
    # partitionOverwriteMode pinned static: under a session-level dynamic
    # default the overwrite would only replace the __build__ partitions
    # and stale append batches (bucketed with the OLD quantizer) would
    # silently survive into the rebuilt index (review r7)
    (with_lsh_bucket(emb, dim, n_planes, seed, vec_col, center=mu)
        .withColumn("batch_id", F.lit(_BUILD_BATCH))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("batch_id", "bucket")
        .parquet(f"{path}/assignments"))
    spark = emb.sparkSession
    spark.createDataFrame(pd.DataFrame({
        "dim": [dim], "n_planes": [n_planes], "seed": [seed],
        "center": [mu.tolist()],
        # build-time drift baseline for append_to_index
        "mean_dist": [_mean_center_dist(emb, mu, vec_col)],
    })).write.mode("overwrite").parquet(f"{path}/stats")
    return mu


def lsh_topk_indexed(spark, path: str, probe_vec, k: int = 10,
                     multiprobe_bits: int = 1, vec_col: str = "embedding",
                     id_col: str = "vec_id") -> DataFrame:
    """ANN top-k over a persisted LSH index: the probe's candidate buckets
    come from the tiny stats sidecar, and ``bucket IN (...)`` is a PARTITION
    filter on the assignments table — only ~|shell|/2^n_planes of the data
    is read, and no full-table pass happens at query time."""
    apath = _live_dir(f"{path}/assignments")  # crashed-compaction view
    stats = spark.read.parquet(f"{path}/stats").collect()[0]
    dim, n_planes, seed = int(stats["dim"]), int(stats["n_planes"]), int(stats["seed"])
    mu = np.asarray(stats["center"], dtype=np.float64)
    probe_vec = np.asarray(probe_vec, dtype=np.float64)
    planes = random_planes(dim, n_planes, seed)
    b0 = _bucket_of(probe_vec, planes, mu)
    cand_buckets = _multiprobe_buckets(b0, n_planes, multiprobe_bits)
    cand = (spark.read.parquet(apath)
                 .where(F.col("bucket").isin([int(b) for b in cand_buckets])))
    return _eager_if_old_view(cosine_topk(cand, probe_vec, k, vec_col, id_col),
                              apath, f"{path}/assignments")


def fit_centroids(emb: DataFrame, dim: int, k: int = 16, iters: int = 8,
                  sample: int = 4096, seed: int = 11,
                  vec_col: str = "embedding") -> np.ndarray:
    """Deterministic driver-side k-means on a sample -> (k, dim) centroids.

    The IVF coarse quantizer: at 100 TB the sample is a tiny bounded read;
    assignment stays distributed/JVM-side."""
    pdf = (emb.select(vec_col).limit(sample).toPandas())
    X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
    idx = splitmix64(np.arange(k, dtype=np.uint64) + np.uint64(seed)) % np.uint64(len(X))
    C = X[idx.astype(np.int64)].copy()
    for _ in range(iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        a = d.argmin(1)
        for j in range(k):
            sel = a == j
            if sel.any():
                C[j] = X[sel].mean(0)
    return C


def with_ivf_bucket(emb: DataFrame, centroids: np.ndarray,
                    vec_col: str = "embedding") -> DataFrame:
    """+ ``ivf`` column: index of the nearest centroid (JVM column math:
    k squared-distance expressions -> array_position of the min)."""
    v = F.col(vec_col).cast("array<double>")
    dists = [
        F.aggregate(F.zip_with(v, probe_literal(c), lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0), lambda acc, x: acc + x)
        for c in centroids]
    arr = F.array(*dists)
    return emb.withColumn("ivf",
                          (F.array_position(arr, F.array_min(arr)) - 1).cast("int"))


def ivf_topk(emb: DataFrame, probe_vec, k: int = 10, dim: int | None = None,
             n_centroids: int = 16, nprobe: int = 4, seed: int = 11,
             vec_col: str = "embedding", id_col: str = "vec_id",
             centroids: np.ndarray | None = None) -> DataFrame:
    """IVF ANN top-k: brute-force cosine within the ``nprobe`` inverted
    lists nearest to the probe — the clustered-data scale path (sign-LSH
    fragments tight clusters; IVF keeps them in one list)."""
    probe_vec = np.asarray(probe_vec, dtype=np.float64)
    dim = dim or len(probe_vec)
    C = centroids if centroids is not None else fit_centroids(
        emb, dim, n_centroids, seed=seed, vec_col=vec_col)
    order = np.argsort(((C - probe_vec) ** 2).sum(1))[:nprobe]
    cand = with_ivf_bucket(emb, C, vec_col).where(
        F.col("ivf").isin([int(i) for i in order]))
    return cosine_topk(cand, probe_vec, k, vec_col, id_col)


def build_ivf_index(emb: DataFrame, dim: int, path: str,
                    n_centroids: int = 16, iters: int = 8, seed: int = 11,
                    vec_col: str = "embedding") -> np.ndarray:
    """Persist an IVF index: assignments parquet PARTITIONED BY the inverted
    list id + a centroids sidecar.  Build once (one full pass), then every
    ``ivf_topk_indexed`` query reads ONLY its ``nprobe`` list partitions —
    Spark's partition pruning turns the coarse quantizer into an I/O filter,
    the on-disk analogue of an inverted-list scan."""
    import pandas as pd
    _clear_index_residue(path)
    C = fit_centroids(emb, dim, n_centroids, iters=iters, seed=seed,
                      vec_col=vec_col)
    # static overwrite for the same reason as build_lsh_index (review r7)
    (with_ivf_bucket(emb, C, vec_col)
        .withColumn("batch_id", F.lit(_BUILD_BATCH))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("batch_id", "ivf")
        .parquet(f"{path}/assignments"))
    spark = emb.sparkSession
    spark.createDataFrame(pd.DataFrame({
        "centroid_id": range(len(C)),
        "vec": [c.tolist() for c in C],
    })).write.mode("overwrite").parquet(f"{path}/centroids")
    # build-time drift baseline for append_to_index
    spark.createDataFrame(pd.DataFrame({
        "mean_dist": [_mean_ivf_dist(emb, C, vec_col)],
    })).write.mode("overwrite").parquet(f"{path}/stats")
    return C


def _mean_center_dist(df: DataFrame, center: np.ndarray,
                      vec_col: str) -> float:
    """Mean L2 distance of rows to a fixed vector (one JVM aggregate)."""
    v = F.col(vec_col).cast("array<double>")
    d = F.sqrt(F.aggregate(
        F.zip_with(v, probe_literal(center), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x))
    row = df.select(F.avg(d).alias("m")).collect()[0]
    return float(row["m"]) if row["m"] is not None else 0.0


def _mean_ivf_dist(df: DataFrame, centroids: np.ndarray,
                   vec_col: str) -> float:
    """Mean L2 distance of rows to their NEAREST centroid (the IVF
    quantization error — the canonical index-drift statistic)."""
    v = F.col(vec_col).cast("array<double>")
    dists = [
        F.aggregate(F.zip_with(v, probe_literal(c),
                               lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0), lambda acc, x: acc + x)
        for c in centroids]
    row = df.select(
        F.avg(F.sqrt(F.array_min(F.array(*dists)))).alias("m")).collect()[0]
    return float(row["m"]) if row["m"] is not None else 0.0


def _clear_index_residue(path: str) -> None:
    """Reset append/compaction state on a REBUILD: the compacted-batches
    ledger and any compaction temp/old directories belong to the index
    generation being overwritten.  A surviving ledger would make a
    post-rebuild replay of a previously-folded batch_id silently no-op —
    its rows would be missing from the new index forever (review r7)."""
    for sub in ("compacted_batches", "assignments__compact_tmp",
                "assignments__compact_old",
                # a crash inside _rmtree_atomic leaves the old generation
                # parked under the __gc staging name (review r7, 5th pass)
                "assignments__compact_old__gc",
                "assignments__gc"):
        p = f"{path}/{sub}"
        if os.path.isdir(p):
            shutil.rmtree(p)


def _recover_swap(live: str) -> None:
    """Crash recovery for :func:`_swap_dir`: a crash between the two
    renames leaves ``live`` missing and ``live__compact_old`` holding the
    previous (correct) layout — restore it so a compaction or append
    re-run converges instead of failing on a missing path (review r7).

    WRITER-only (appends + compaction), and those run under the store's
    single-concurrent-maintainer contract (see :func:`_swap_dir`) — a
    concurrent caller could not tell a crashed swap from one mid-flight
    and would rename the directory out from under it.  Query paths use
    the non-mutating :func:`_live_dir` instead (review r7, third pass)."""
    old = live + "__compact_old"
    if not os.path.isdir(live) and os.path.isdir(old):
        os.rename(old, live)


def _live_dir(live: str) -> str:
    """Non-mutating :func:`_recover_swap` twin for QUERY paths: if a
    crashed (or in-flight) compaction has the layout under
    ``__compact_old``, READ from there — the pre-compaction view, which
    stays query-identical by the compaction contract.  Renaming from a
    reader would race a mid-swap maintenance call and could fail ITS
    second rename; readers also must not race each other.  The next
    maintenance call performs the actual recovery.

    Concurrency contract: a plan built against the ``__compact_old``
    view can fail LOUDLY (missing path — retry the query) if maintenance
    completes or recovers underneath it; it can never silently read a
    partial directory, because every deletion of the old dir goes
    through a rename-to-``__gc``-then-rmtree (deletion is atomic from
    the path's perspective).  Callers that must SURVIVE a concurrent
    recovery (the indexed top-k queries, the incremental pair tables)
    eagerly materialize when this returns the old view."""
    if os.path.isdir(live):
        return live
    old = live + "__compact_old"
    return old if os.path.isdir(old) else live


def _rmtree_atomic(path: str) -> None:
    """Remove a directory so that concurrent readers of its PATH either
    see it fully or not at all: rename to a ``__gc`` staging name first,
    then delete — a reader holding the old path fails loudly on a
    missing directory instead of silently listing a half-deleted one.
    A crash after the rename parks the data under ``__gc``; the next
    call here (or an index rebuild via ``_clear_index_residue``)
    removes it."""
    gc = path + "__gc"
    if os.path.isdir(gc):
        shutil.rmtree(gc)
    os.rename(path, gc)
    shutil.rmtree(gc)


def _eager_if_old_view(df, resolved: str, live: str):
    """Single enforcement point for the :func:`_live_dir` contract:
    results computed against a crashed-swap ``__compact_old`` view are
    eagerly materialized so the returned handle survives a writer
    recovering the layout underneath it.  No-op on the live path."""
    return df.localCheckpoint(eager=True) if resolved != live else df


def _swap_dir(live: str, tmp: str) -> None:
    """Two-rename directory swap shared by ``compact_index`` and
    ``dedup.compact_store``.  Crash protocol (every window re-run
    convergent, see :func:`_recover_swap`):

    1. remove residue of a crashed prior swap,
    2. ``live`` -> ``live__compact_old``   (crash here: recovery renames
       it back; ``tmp`` is residue removed by the next run),
    3. ``tmp`` -> ``live``                 (crash here: old is residue),
    4. remove ``live__compact_old``.

    At deployment both renames are one transactional table-format rewrite
    (Iceberg ``rewrite_data_files``) — SCALE.md checkpoint row."""
    old = live + "__compact_old"
    if os.path.isdir(old):
        _rmtree_atomic(old)
    os.rename(live, old)
    os.rename(tmp, live)
    _rmtree_atomic(old)


def _compacted_batches(spark, path: str) -> set:
    """Batch ids already folded away by :func:`compact_index` — a replay
    of one of these must be SKIPPED, not re-inserted (its rows live in
    the build partition now).  Local-FS existence check; at deployment
    the ledger is a tiny catalog table."""
    p = f"{path}/compacted_batches"
    if not os.path.isdir(p):
        return set()
    return {r["batch_id"]
            for r in spark.read.parquet(p).select("batch_id")
                          .distinct().collect()}


def append_to_index(spark, path: str, new_emb: DataFrame, kind: str,
                    vec_col: str = "embedding",
                    batch_id: str | int | None = None) -> dict:
    """Incremental index maintenance (round-5 verdict #4): assign NEW rows
    with the index's EXISTING quantizer (stored centroids / planes+center
    — no refit, no touch of the resident data) and deliver them into the
    partitioned assignments layout; queries pick them up on their next
    partition-pruned read with zero rebuild.

    Crash-replay idempotency (round-6 verdict #1): each batch lands in its
    own ``assignments/batch_id=<id>`` directory via an overwrite SCOPED to
    that directory, so a foreachBatch replay REWRITES the same rows instead
    of double-inserting them — the same exactly-once delivery contract its
    dedup-store siblings carry (``dedup.append_to_minhash_store`` rejects
    replays through admission; here the layout itself absorbs them).  Pass
    the streaming epoch / ingest date as ``batch_id``; when omitted a fresh
    uuid is generated (an AD-HOC append — correct, but a replay would
    arrive under a new uuid and duplicate, so always pass a stable id when
    the source is at-least-once).  Batches folded away by
    :func:`compact_index` are remembered in a ledger and skipped here, so
    a late replay after compaction cannot re-insert rows either.

    Returns the drift report: mean quantization distance of the appended
    batch vs the build-time value from the stats sidecar.  A
    ``drift_ratio`` creeping above ~1.5 is the standard re-train signal —
    the quantizer no longer represents the incoming distribution (probe
    recall decays silently otherwise).  The append itself stays correct
    at any drift: assignments use the same quantizer queries use.  The
    report also carries ``n_assignment_files`` so operators see the
    small-files pressure build toward the next :func:`compact_index`."""
    if kind not in ("ivf", "lsh"):
        raise ValueError(f"kind must be 'ivf' or 'lsh', got {kind!r}")
    if batch_id is None:
        batch_id = uuid.uuid4().hex
    batch_id = str(batch_id)
    if batch_id == _BUILD_BATCH or not _BATCH_ID_RE.match(batch_id):
        raise ValueError(
            f"batch_id must match [A-Za-z0-9._-]+ and not be the reserved "
            f"{_BUILD_BATCH!r}, got {batch_id!r}")
    apath = f"{path}/assignments"
    # a crashed compaction mid-swap leaves the layout under __compact_old;
    # appending into a fresh root would orphan the whole resident index
    _recover_swap(apath)
    if os.path.isdir(apath) and not any(
            e.startswith("batch_id=") for e in os.listdir(apath)
            if not e.startswith(("_", "."))):
        raise ValueError(
            f"{apath} predates the batch_id= layout (pre-round-7 build) — "
            "appending would mix partition depths and break every read; "
            "rebuild with build_lsh_index/build_ivf_index first")
    if batch_id in _compacted_batches(spark, path):
        # this batch's rows were folded into the build partition by
        # compact_index — a replayed delivery must be a no-op
        return {"kind": kind, "batch_id": batch_id, "n_appended": 0,
                "skipped_compacted": True,
                "n_assignment_files": _count_data_files(
                    f"{path}/assignments")}

    if kind == "ivf":
        C = load_ivf_centroids(spark, path)
        assigned = with_ivf_bucket(new_emb, C, vec_col)
        part = "ivf"
        new_dist = _mean_ivf_dist(new_emb, C, vec_col)
    else:
        stats = spark.read.parquet(f"{path}/stats").collect()[0]
        mu = np.asarray(stats["center"], dtype=np.float64)
        assigned = with_lsh_bucket(new_emb, int(stats["dim"]),
                                   int(stats["n_planes"]),
                                   int(stats["seed"]), vec_col, center=mu)
        part = "bucket"
        new_dist = _mean_center_dist(new_emb, mu, vec_col)
    # overwrite of the batch's OWN directory: first delivery creates it,
    # a replay rewrites it with identical content — never touches sibling
    # batches or the build partition (static mode so a replay clears ALL
    # of the batch directory, not just the partitions it writes)
    assigned.write.mode("overwrite") \
        .option("partitionOverwriteMode", "static").partitionBy(part) \
        .parquet(f"{path}/assignments/batch_id={batch_id}")

    build_dist = None
    try:
        srow = spark.read.parquet(f"{path}/stats").collect()[0]
    except Exception as exc:  # narrow: only a MISSING sidecar is benign
        from pyspark.errors import AnalysisException
        if not isinstance(exc, AnalysisException):
            raise  # corrupt/unreadable stats must not silently suppress
            # the drift_ratio retrain signal (advice r6)
        srow = None  # pre-round-6 index without a stats sidecar
    if srow is not None and "mean_dist" in srow.__fields__:
        build_dist = float(srow["mean_dist"])
    n = new_emb.count()
    out = {"kind": kind, "batch_id": batch_id, "n_appended": n,
           "mean_dist_new": round(new_dist, 6),
           "mean_dist_build": (round(build_dist, 6)
                               if build_dist is not None else None),
           "n_assignment_files": _count_data_files(f"{path}/assignments")}
    if build_dist:
        out["drift_ratio"] = round(new_dist / build_dist, 4)
    return out


def compact_index(spark, path: str, id_col: str = "vec_id") -> dict:
    """Index maintenance (round-6 verdict #2): fold every appended batch
    into the build partition — coalescing the daily-append small files to
    one file per bucket/inverted list and dropping replay-duplicated ids —
    and record the folded batch ids in a ledger so a LATE replay of a
    pre-compaction batch is skipped by :func:`append_to_index` instead of
    re-inserting its rows.  Query results are identical pre/post (pinned
    by tests).

    Crash ordering: the ledger append lands BEFORE the layout swap.  A
    crash in between leaves the old (correct, merely un-compacted) layout
    plus a ledger entry — replays are skipped either way and re-running
    compaction converges; the reverse order would reopen the exact
    duplicate-insert window this function closes.  At deployment both
    steps are one transactional table-format rewrite (Iceberg
    ``rewrite_data_files``) — SCALE.md checkpoint row."""
    apath = f"{path}/assignments"
    _recover_swap(apath)
    cur = spark.read.parquet(apath)
    part = "ivf" if "ivf" in cur.columns else "bucket"
    if "batch_id" not in cur.columns:
        raise ValueError(
            f"{apath} predates the batch_id= layout (pre-round-7 build) — "
            "nothing to compact; rebuild to adopt the appendable layout")
    batches = [r["batch_id"]
               for r in cur.select("batch_id").distinct().collect()]
    files_before = _count_data_files(apath)
    rows_before = cur.count()
    # duplicates may only be byte-identical replay copies (every batch is
    # assigned with the same frozen quantizer) — ENFORCED, not assumed
    # (ADVICE r7): an id re-embedded under a new batch_id would otherwise
    # collapse to an arbitrary survivor and silently change query results
    # post-compaction.  Conflict check = one aggregation over a content
    # hash of every non-batch column; maintenance-path cost only.
    content = [c for c in cur.columns if c != "batch_id"]
    # hash the JSON form: xxhash64 skips NULL arguments, so rows differing
    # only in WHICH column is NULL would hash alike (ADVICE r8 #3)
    bad = (cur.select(id_col,
                      F.xxhash64(F.to_json(F.struct(*content))).alias("_h"))
              .groupBy(id_col)
              .agg(F.countDistinct("_h").alias("_n"))
              .where(F.col("_n") > 1)
              .limit(5).collect())
    if bad:
        ids = [r[id_col] for r in bad]
        raise ValueError(
            f"compact_index: id(s) {ids} carry DIFFERING row content "
            "across batches — duplicates must be byte-identical replay "
            "copies; re-embedding a vector requires rebuild_index, not "
            "append + compaction")
    compacted = cur.dropDuplicates([id_col]).drop("batch_id")
    rows_after = compacted.count()

    folded = sorted(b for b in batches if b != _BUILD_BATCH)
    if folded:
        spark.createDataFrame([(b,) for b in folded], "batch_id string") \
            .write.mode("append").parquet(f"{path}/compacted_batches")

    tmp = apath + "__compact_tmp"
    # repartition BY the partition column: each bucket/list value lands in
    # exactly one task -> exactly one output file per partition directory
    (compacted.withColumn("batch_id", F.lit(_BUILD_BATCH))
        .repartition(F.col(part))
        .write.mode("overwrite").partitionBy("batch_id", part).parquet(tmp))
    _swap_dir(apath, tmp)
    return {"part_col": part, "batches_folded": len(folded),
            "files_before": files_before,
            "files_after": _count_data_files(apath),
            "rows_before": rows_before, "rows_after": rows_after,
            "dup_rows_dropped": rows_before - rows_after}


def load_ivf_centroids(spark, path: str) -> np.ndarray:
    pdf = spark.read.parquet(f"{path}/centroids").orderBy("centroid_id").toPandas()
    return np.stack(pdf["vec"].to_numpy()).astype(np.float64)


def ivf_topk_indexed(spark, path: str, probe_vec, k: int = 10,
                     nprobe: int = 4, vec_col: str = "embedding",
                     id_col: str = "vec_id") -> DataFrame:
    """IVF ANN over a persisted index: the ``ivf IN (...)`` predicate is a
    PARTITION filter — only nprobe/n_centroids of the table is read."""
    apath = _live_dir(f"{path}/assignments")  # crashed-compaction view
    probe_vec = np.asarray(probe_vec, dtype=np.float64)
    C = load_ivf_centroids(spark, path)
    order = np.argsort(((C - probe_vec) ** 2).sum(1))[:nprobe]
    cand = (spark.read.parquet(apath)
                 .where(F.col("ivf").isin([int(i) for i in order])))
    return _eager_if_old_view(cosine_topk(cand, probe_vec, k, vec_col, id_col),
                              apath, f"{path}/assignments")


def knn_pairs_exact(emb: DataFrame, dim: int, n_planes: int = 8,
                    threshold: float = 0.95, seed: int = 7,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    max_bucket: int = 200, center=None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within LSH buckets
    (id_a < id_b, cosine >= threshold) — the embedding dedup operator.

    ``max_bucket``: buckets of more rows than this never pair — the same
    skew guard as ``dedup.minhash_lsh``.  Sign-LSH on clustered embeddings
    concentrates rows into few buckets (that's why ``center=`` exists),
    and one hot bucket makes the within-bucket all-pairs step quadratic.

    ``center``: a precomputed recentering vector — symmetrical with
    ``with_lsh_bucket``; when None a one-pass ``data_mean`` is computed
    (bounded build-time cost; pass a sampled/stored center at 100 TB so
    no full-table pass happens here).

    The returned DataFrame is eagerly materialized and persisted; callers
    owning long sessions may ``unpersist()`` it when done."""
    from .dedup import _bucket_pairs, _Fence
    if center is None:
        center = data_mean(emb, dim, vec_col)
    table = with_lsh_bucket(emb, dim, n_planes, seed, vec_col,
                            center=center).select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("v"), "bucket")
    with _Fence() as fence:
        # one bucket per row, so no pair repeats: no dropDuplicates
        pairs = _bucket_pairs(table, ["bucket"], ["v"], max_bucket)
        cos = F.round(cosine_sim(F.col("v_a"), F.col("v_b")), 8)
        return fence.hold(pairs.select("id_a", "id_b", cos.alias("cosine"))
                               .where(F.col("cosine") >= threshold), out=True)
