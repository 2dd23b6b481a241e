"""Driver-side tests of ``partitioning`` (no Spark session): the
``grouped_stream`` kernel over hand-made batches, and the
``kernel_parallelism`` fallback."""

from types import SimpleNamespace

import numpy as np
import pandas as pd

from geo_raster_spark import partitioning


def _batches(pdf, size):
    return [pdf.iloc[i:i + size] for i in range(0, len(pdf), size)]


def test_stream_groups_linear_tail_buffer(monkeypatch):
    """A 100k-row group fed as 200 batches, after a NULL-keyed group that
    spans batches: ``fn`` sees every group once, whole and in order, and
    the rows handed to ``pd.concat`` grow linearly with the input (the
    re-concat-per-batch tail buffer passed ~10^7 rows here).  Held groups
    end both on a batch boundary (NULL, "big") and inside a batch ("c")."""
    keys = [None] * 1000 + ["big"] * 100_000 + ["c"] * 1230 + ["d"] * 770
    pdf = pd.DataFrame({"k": pd.Series(keys, dtype=object),
                        "v": np.arange(len(keys), dtype=np.int64)})
    concat_rows = []
    real_concat = pd.concat

    def counting_concat(objs, *a, **kw):
        objs = list(objs)
        concat_rows.append(sum(len(o) for o in objs))
        return real_concat(objs, *a, **kw)

    monkeypatch.setattr(pd, "concat", counting_concat)
    seen = []

    def fn(key, grp):
        seen.append((key[0], grp["v"].to_numpy().copy()))
        return pd.DataFrame({"n": [len(grp)], "k": [key[0]]})

    out = list(partitioning._stream_groups(_batches(pdf, 500), ["k"], fn,
                                           ["k", "n"], flush_rows=2))
    assert [k for k, _ in seen] == [None, "big", "c", "d"]
    start = 0
    for _k, v in seen:
        np.testing.assert_array_equal(v, np.arange(start, start + len(v)))
        start += len(v)
    assert [len(v) for _, v in seen] == [1000, 100_000, 1230, 770]
    res = real_concat(out, ignore_index=True)
    assert list(res.columns) == ["k", "n"]
    assert res["n"].tolist() == [1000, 100_000, 1230, 770]
    assert sum(concat_rows) <= 2 * len(pdf)


def test_kernel_parallelism_auto_falls_back_to_default_parallelism():
    conf = SimpleNamespace(get=lambda key: "auto")
    spark = SimpleNamespace(conf=conf,
                            sparkContext=SimpleNamespace(defaultParallelism=7))
    assert partitioning.kernel_parallelism(SimpleNamespace(sparkSession=spark)) == 7
