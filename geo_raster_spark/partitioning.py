"""Partitioning helpers for pandas-kernel stages.

``keyed_repartition(df, cols)`` = ``df.repartition(n, *cols)`` with ``n``
taken from ``spark.sql.shuffle.partitions`` — i.e. the SAME width a keyless
``repartition(*cols)`` would request, but pinned so AQE cannot coalesce it.

Why pinning matters (round 8, measured): AQE's partition coalescing sizes
post-shuffle partitions by BYTES (``advisoryPartitionSizeInBytes``).  The
shuffles feeding ``applyInPandas`` decode/paint kernels carry a few MB of
encoded tiles whose per-row CPU cost is orders of magnitude higher than
their byte size suggests, so AQE folds the whole stage into one or two
partitions and the kernel runs serial — the g5 tile-cut assemble stage was
measured at 0.9 s on one core vs ~0.1 s spread over 32.  An explicit
partition count keeps the kernel stage as wide as the session's shuffle
width, which stays scale-adaptive: ``spark.sql.shuffle.partitions`` is the
cluster-sized knob on a deployment and ``max(cores, 8)`` locally
(``session.get_spark``).  When ``spark.sql.shuffle.partitions`` is
``"auto"`` or cannot be read, ``kernel_parallelism`` falls back to
``sparkContext.defaultParallelism`` (the core count locally).  Groups
still land whole in one partition, so results are identical.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def kernel_parallelism(df: DataFrame) -> int:
    """The pinned width: ``spark.sql.shuffle.partitions`` as an int, or
    ``sparkContext.defaultParallelism`` when that conf is ``"auto"`` or
    unreadable."""
    spark = df.sparkSession
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:  # "auto" or locked-down session
        return spark.sparkContext.defaultParallelism


def keyed_repartition(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-repartition by ``cols`` at the session shuffle width, pinned
    against AQE byte-based coalescing (see module docstring)."""
    return df.repartition(kernel_parallelism(df), *cols)


def grouped_stream(df: DataFrame, group_cols: list, fn, schema: str,
                   flush_rows: int = 64) -> DataFrame:
    """``groupBy(group_cols).applyInPandas(fn)`` re-expressed as a sorted
    streaming ``mapInPandas`` — identical results, batch-level Arrow.

    ``applyInPandas`` ships every GROUP as its own Arrow batch; with the
    tile operators' many small groups (10^3-10^4 per job, a handful of rows
    each) the per-group JVM flush + Python round-trip dominates: measured
    at 10102 tile groups, a no-op ``applyInPandas`` costs 3.0 s vs 0.9 s
    for this shape (round 8, guide §4 — batch the boundary).  Here rows are
    hash-partitioned by the group key (``keyed_repartition``), sorted
    within partitions so groups are contiguous, and streamed through
    ``mapInPandas`` in ~``maxRecordsPerBatch`` Arrow batches; the kernel
    buffers ONLY the trailing (possibly batch-spanning) group, so peak
    memory stays one batch + one group — the same bound as
    ``applyInPandas``.  Results per group are byte-identical (same ``fn``),
    and output order within a partition is by group key instead of
    hash-arrival — immaterial to every consumer (aggregations / joins /
    order-insensitive hashes downstream).

    ``fn(key_tuple, group_pdf) -> pd.DataFrame`` exactly as applyInPandas.
    """
    # declared field order (schema DDL) — output DataFrames are reindexed
    # to it so Arrow conversion never depends on dict insertion order
    names = StructType.fromDDL(schema).fieldNames()

    rep = keyed_repartition(df, *group_cols).sortWithinPartitions(*group_cols)
    return rep.mapInPandas(lambda batches: _stream_groups(
        batches, group_cols, fn, names, flush_rows), schema=schema)


def _key_mask(pdf, group_cols: list, row):
    """Rows of ``pdf`` whose group key equals ``row``'s, NULL-safe: pandas
    ``==`` is False for NaN==NaN, which would split a null-keyed group."""
    mask = True
    for c in group_cols:
        t = row[c]
        mask = mask & (pdf[c].isna() if pd.isna(t) else pdf[c] == t).to_numpy()
    return mask


def _stream_groups(batches, group_cols: list, fn, names: list,
                   flush_rows: int = 64):
    """The ``mapInPandas`` kernel of ``grouped_stream`` (module-level so a
    test can drive it without Spark): ``batches`` are sorted by
    ``group_cols``; ``fn`` runs once per whole group, in stream order, and
    its outputs are yielded in frames of about ``flush_rows`` rows.

    The group at a batch's tail may continue in the next batch, so its
    fragments are held in a list and concatenated ONCE when the group
    ends — linear in the group's rows however many batches it spans."""
    tail: list = []
    pending: list = []
    npend = 0

    def flush():
        nonlocal pending, npend
        out = pd.concat(pending, ignore_index=True)[names]
        pending, npend = [], 0
        return out

    def emit(grp):
        nonlocal npend
        key = tuple(grp[c].iloc[0] for c in group_cols)
        out = fn(key, grp)
        if out is not None and len(out):
            pending.append(out)
            npend += len(out)

    def held():
        grp = pd.concat(tail, ignore_index=True)
        tail.clear()
        return grp

    for pdf in batches:
        n = len(pdf)
        if n == 0:
            continue
        if tail and not _key_mask(tail[0].iloc[:1], group_cols, pdf.iloc[0])[0]:
            emit(held())        # the held group ended with the last batch
        # rows of the LAST key may continue in the next batch — hold them
        # (they are contiguous at the tail: input sorted by key)
        last = _key_mask(pdf, group_cols, pdf.iloc[-1])
        start_last = n - int(last[::-1].argmin() if not last.all() else n)
        # dropna=False: Spark's applyInPandas groups null keys like any
        # other value; pandas groupby would silently DROP them
        for _key, grp in pdf.iloc[:start_last].groupby(group_cols, sort=False,
                                                       dropna=False):
            if tail:            # the first group completes the held one
                tail.append(grp)
                grp = held()
            emit(grp)
            if npend >= flush_rows:
                yield flush()
        tail.append(pdf.iloc[start_last:])
    if tail:
        emit(held())
    if pending:
        yield flush()
