"""The benchmark workloads: seeded inputs, one timed job, and an answer
computed without Spark.

``WORKLOADS`` holds the two that ``BENCHMARK.json`` lists: ``catalog_tiles``
(the catalog and tile parts run as one job) and ``caption_dedup``.
``StoreIngest`` is run only by the traced run of ``caption_dedup``.

Each workload is an object with
- ``prepare(spark, seed, tmp)``: writes the seeded input to parquet under
  ``tmp`` and computes the expected answer from NumPy twins or from the
  planting, before any timing starts;
- ``job(spark, k, tr)``: one closed-loop job through the public functions
  of ``geo_raster_spark``; ``tr`` is the tracer (a no-op when untraced),
  whose ``input`` and ``run`` calls mark the layer boundaries;
- ``check(answer)``: ``True`` when the job's answer equals the expected one;
- ``items``: input items per job (images, corpus rows or ingested docs).
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd

from geo_raster_spark import codecs, geometry, synth
from geo_raster_spark.grid import RasterInfo, TileGrid
from geo_raster_spark.kernels import warp

from .trace import du as trace_du

GRID = TileGrid()


def id_start(seed: int, stride: int) -> int:
    """First synthetic row id of a run: the seed selects the id range."""
    return (int(seed) % 10007) * stride


def _zone_parts(zones: pd.DataFrame) -> dict:
    return {int(z.zone_id): geometry.split_ring_antimeridian(
                geometry.wkb_to_ring(z.geometry))
            for z in zones.itertuples()}


def points_in_zones(zones: pd.DataFrame, lon, lat):
    """(point index, zone_id) of every point inside every zone, by the
    NumPy ray cast after a bbox prefilter (no DGGS cover involved)."""
    pi, zi = [], []
    for zid, parts in _zone_parts(zones).items():
        hit = np.zeros(len(lon), dtype=bool)
        for part in parts:
            bb = geometry.ring_bbox(part)
            sel = np.flatnonzero((lon >= bb[0]) & (lon <= bb[2])
                                 & (lat >= bb[1]) & (lat <= bb[3]))
            hit[sel] |= geometry.points_in_ring(part, lon[sel], lat[sel])
        idx = np.flatnonzero(hit)
        pi.append(idx)
        zi.append(np.full(len(idx), zid, dtype=np.int64))
    return np.concatenate(pi), np.concatenate(zi)


def tile_cover(minx, miny, maxx, maxy):
    """(image index, tile_col, tile_row) of every grid tile whose haloed
    extent meets each bbox: the closed-form ranges of
    ``TileGrid.list_tiles``, vectorized (footprints span at most 3x3 tiles;
    ``check_tile_cover`` pins the two against each other)."""
    g = GRID
    ts, halo = g.tile_size, g.edge * g.cell_size
    c0 = np.ceil((minx - halo - ts + g.p) / ts - 1e-12).astype(np.int64)
    c1 = np.floor((maxx + g.p) / ts + 1e-12).astype(np.int64)
    r0 = np.maximum(np.ceil((g.p / 2 - maxy - halo - ts) / ts - 1e-12), 0).astype(np.int64)
    r1 = np.minimum(np.floor((g.p / 2 - miny) / ts + 1e-12), g.n_rows - 1).astype(np.int64)
    out_i, out_c, out_r = [], [], []
    for dc in range(3):
        for dr in range(3):
            m = (c0 + dc <= c1) & (r0 + dr <= r1)
            idx = np.flatnonzero(m)
            out_i.append(idx)
            out_c.append((c0[idx] + dc) % g.n_cols)
            out_r.append(r0[idx] + dr)
    return np.concatenate(out_i), np.concatenate(out_c), np.concatenate(out_r)


def check_tile_cover(meta, n: int = 64) -> None:
    """Raise unless the vectorized cover equals ``TileGrid.list_tiles`` on
    the first ``n`` footprints."""
    keep = np.arange(min(n, len(meta["minx"])))
    ii, cc, rr = tile_cover(*(meta[k][keep] for k in ("minx", "miny", "maxx", "maxy")))
    for i in keep:
        ext = tuple(float(meta[k][i]) for k in ("minx", "miny", "maxx", "maxy"))
        want = sorted(GRID.list_tiles(ext))
        got = sorted(zip(cc[ii == i].tolist(), rr[ii == i].tolist()))
        if want != got:
            raise AssertionError(f"tile cover of footprint {i}: {got} != {want}")


def _tag(col, row) -> str:
    return "h%03dv%03d" % (col, row)


def _write_pdf(spark, pdf: pd.DataFrame, path: str, parts: int, schema: str) -> None:
    spark.createDataFrame(pdf, schema=schema).repartition(parts) \
        .write.mode("overwrite").parquet(path)


class Workload:
    name = ""
    items = 0

    def __init__(self, scale: float = 1.0):
        self.scale = scale
        self.expected = None

    def n(self, base: int, floor: int = 50) -> int:
        return max(floor, int(base * self.scale))

    def parts(self, spark) -> int:
        return spark.sparkContext.defaultParallelism

    def before_job(self, k):
        """Untimed per-job set-up (fresh output locations)."""

    def cleanup_job(self, k):
        """Untimed per-job clean-up, after the answer is checked."""

    def traced_counts(self, spark, tr, k) -> dict:
        """Layer counts of a traced job, read before its clean-up."""
        return {}

    def probes(self, spark, tr) -> dict:
        """Layer figures measured once per traced run, after its jobs."""
        return {}


# ---------------------------------------------------------------------------
# catalog_join: the flagship plan over image metadata (no Python at all)
# ---------------------------------------------------------------------------

class CatalogJoin(Workload):
    """``plans.flagship.flagship``: footprint -> PIP join against 64 zones ->
    tile assignment -> (zone, tile) counts, with the checkpoint write on."""
    name = "catalog_join"
    # 0.3M / 1.2M / 3.9M rows took 2.5 / 3.0 / 5.1 s per warm job at
    # local[4]: about 2.3 s fixed plus 0.7 s per million rows
    BASE_IMAGES = 4_000_000
    CHUNK = 500_000          # oracle rows per NumPy pass (bounds driver memory)

    def expected_counts(self, start: int, n: int) -> dict:
        """(zone_id, tile_tag) -> images, by the NumPy twins, in chunks."""
        check_tile_cover(synth.image_meta(np.arange(start, start + 64, dtype=np.int64)))
        keys = []
        for lo in range(start, start + n, self.CHUNK):
            meta = synth.image_meta(np.arange(lo, min(lo + self.CHUNK, start + n),
                                              dtype=np.int64))
            pi, zi = points_in_zones(self.zones, meta["lon"], meta["lat"])
            ti, tc, tr_ = tile_cover(*(meta[k][pi] for k in ("minx", "miny", "maxx", "maxy")))
            keys.append((zi[ti] * GRID.n_cols + tc) * GRID.n_rows + tr_)
        uniq, counts = np.unique(np.concatenate(keys), return_counts=True)
        z, rest = np.divmod(uniq, GRID.n_cols * GRID.n_rows)
        c, r = np.divmod(rest, GRID.n_rows)
        return {(int(zz), _tag(cc, rr)): int(k) for zz, cc, rr, k in zip(z, c, r, counts)}

    def prepare(self, spark, seed, tmp):
        from pyspark.sql import functions as F

        from geo_raster_spark import functions as gf

        n = self.n(self.BASE_IMAGES)
        start = id_start(seed, 50_000_000)
        self.items, self.tmp = n, tmp
        self.zones = synth.zones_pandas(64)
        w_arr = F.array(F.lit(32), F.lit(64), F.lit(128))
        h_arr = F.array(F.lit(32), F.lit(64), F.lit(96))
        self.path = os.path.join(tmp, "catalog")
        (spark.range(start, start + n, 1, self.parts(spark))
              .select(F.format_string("img%012d", F.col("id")).alias("image_id"),
                      F.element_at(w_arr, (F.col("id") % 3 + 1).cast("int")).alias("w"),
                      F.element_at(h_arr, ((F.col("id") / 3).cast("long") % 3 + 1)
                                   .cast("int")).alias("h"),
                      gf.splitmix64(F.col("id")).alias("phash"))
              .write.mode("overwrite").parquet(self.path))
        self.expected = self.expected_counts(start, n)

    def job(self, spark, k, tr):
        from geo_raster_spark.plans import flagship
        from geo_raster_spark.plans.checkpoint import CheckpointTable

        cp = CheckpointTable(os.path.join(self.tmp, f"checkpoint_{k}"))
        images = tr.input(spark.read.parquet(self.path))
        counts = flagship.flagship(images, self.zones, checkpoint=cp)
        rows = tr.run("plans.flagship.collect", counts.collect)
        return {(int(r["zone_id"]), r["tile_tag"]): int(r["n_images"]) for r in rows}

    def traced_counts(self, spark, tr, k):
        files, size = trace_du(os.path.join(self.tmp, f"checkpoint_{k}"))
        return {"plans.checkpoint.files": files, "plans.checkpoint.bytes": size}

    def probes(self, spark, tr):
        """CPU of the checkpointed flagship over that of one plain pass."""
        from geo_raster_spark.plans import flagship
        from geo_raster_spark.plans.checkpoint import CheckpointTable

        images = spark.read.parquet(self.path)
        cp = CheckpointTable(os.path.join(self.tmp, "checkpoint_probe"))
        with tr.span("probe.one_pass") as one:
            flagship.flagship(images, self.zones).collect()
        with tr.span("probe.checkpointed") as two:
            flagship.flagship(images, self.zones, checkpoint=cp).collect()
        tr.collect_engine()
        cpu = [s["engine"]["executor_cpu_s"] for s in (one, two)]
        return {"plans.checkpoint.recompute_ratio": cpu[1] / cpu[0] if cpu[0] else 0.0}

    def check(self, answer):
        return answer == self.expected

    def cleanup_job(self, k):
        shutil.rmtree(os.path.join(self.tmp, f"checkpoint_{k}"), ignore_errors=True)


# ---------------------------------------------------------------------------
# tile_mosaic: decode -> warp/paint -> PNG encode inside grouped_stream,
# tile-file writes, then zonal statistics over a hot zone set
# ---------------------------------------------------------------------------

def zonal_oracle(meta, payloads, fmts, zones, nodata=-1.0) -> dict:
    """zone_id -> (n_images, n_pixels, mean, range) over every pixel whose
    center lies inside the zone, by the NumPy ray cast on pixel centers."""
    parts = _zone_parts(zones)
    acc: dict = {}
    for i in range(len(payloads)):
        arr = codecs.decode(payloads[i], fmts[i]).astype(np.float64)
        h, w = arr.shape[:2]
        xs = meta["minx"][i] + (np.arange(w) + 0.5) * synth.CELL_SIZE
        ys = meta["maxy"][i] - (np.arange(h) + 0.5) * synth.CELL_SIZE
        X, Y = np.meshgrid(xs, ys)
        X = ((X + 180.0) % 360.0) - 180.0
        bb_img = (X.min(), Y.min(), X.max(), Y.max())
        for zid, zparts in parts.items():
            inside = np.zeros(X.shape, dtype=bool)
            for part in zparts:
                bb = geometry.ring_bbox(part)
                if bb[0] > bb_img[2] or bb[2] < bb_img[0] or bb[1] > bb_img[3] or bb[3] < bb_img[1]:
                    continue
                inside |= geometry.points_in_ring(part, X.ravel(), Y.ravel()).reshape(X.shape)
            vals = arr[inside]
            vals = vals[vals != nodata]
            if len(vals) == 0:
                continue
            a = acc.setdefault(zid, [0, 0, 0.0, np.inf, -np.inf])
            a[0] += 1
            a[1] += len(vals)
            a[2] += float(vals.sum())
            a[3] = min(a[3], float(vals.min()))
            a[4] = max(a[4], float(vals.max()))
    return {z: (a[0], a[1], a[2] / a[1], a[4] - a[3]) for z, a in acc.items()}


class TileMosaic(Workload):
    """``with_footprint`` -> ``mosaic.tile_cut`` -> ``tile_store.write_tile_files``,
    then ``zonal.zonal_stats`` over 12 zones (one hot) on the same input."""
    name = "tile_mosaic"
    # 250 / 1,000 images took 3.5-4.4 / 6.0-6.4 s per warm job at local[4]:
    # about 2.7 s fixed plus 3.5 ms per image
    BASE_IMAGES = 1_000
    SAMPLE_TILES = 6

    def prepare(self, spark, seed, tmp):
        n = self.n(self.BASE_IMAGES, floor=30)
        start = id_start(seed, 1_000_000)
        self.items, self.tmp = n, tmp
        self.zones = synth.zones_pandas(12, hot=True)
        self.path = os.path.join(tmp, "images")
        synth.images_df(spark, n, self.parts(spark), start=start) \
            .write.mode("overwrite").parquet(self.path)

        src = pd.read_parquet(self.path).sort_values("image_id", ignore_index=True)
        idx = np.array([int(s[3:]) for s in src["image_id"]], dtype=np.int64)
        meta = synth.image_meta(idx)
        check_tile_cover(meta)
        ii, cc, rr = tile_cover(meta["minx"], meta["miny"], meta["maxx"], meta["maxy"])
        tiles = pd.DataFrame({"i": ii, "tag": [_tag(c, r) for c, r in zip(cc, rr)]})
        per_tile = tiles.groupby("tag")["i"].apply(list)
        self.n_tiles = len(per_tile)
        # a few tiles re-mosaicked on the driver by the NumPy kernel
        rng = np.random.default_rng(seed)
        pick = rng.choice(len(per_tile), size=min(self.SAMPLE_TILES, len(per_tile)),
                          replace=False)
        self.src, self.meta, self.members, self.sample = src, meta, {}, {}
        for j in sorted(pick):
            tag = per_tile.index[j]
            self.members[tag] = sorted(per_tile.iloc[j])
            self.sample[tag] = (len(self.members[tag]), self._mosaic(tag))
        self.sample_payloads = src[["bytes", "fmt"]].head(96)
        self.expected_zonal = zonal_oracle(meta, src["bytes"], src["fmt"], self.zones)

    def job(self, spark, k, tr):
        from geo_raster_spark.operators import footprint, mosaic, zonal
        from geo_raster_spark.sources import tile_store

        out_dir = os.path.join(self.tmp, f"tiles_{k}")
        images = tr.input(spark.read.parquet(self.path))
        fp = footprint.with_footprint(images)
        written = tile_store.write_tile_files(mosaic.tile_cut(fp, nodata=0.0), out_dir,
                                              fmt="png")
        zrows = tr.run("operators.zonal.combine",
                       zonal.zonal_stats(fp, self.zones, nodata=-1.0).collect)
        return {"written": written, "dir": out_dir,
                "zonal": {int(r["zone_id"]): (int(r["n_images"]), int(r["n_pixels"]),
                                              float(r["mean"]), float(r["rng"]))
                          for r in zrows}}

    def _mosaic(self, tag):
        """One output tile painted by ``kernels.warp.mosaic`` on the driver:
        sources in image-id order, first wins, as the engine promises."""
        m, src = self.meta, self.src
        srcs = ((codecs.decode(src["bytes"][i], src["fmt"][i]).astype(np.float64),
                 RasterInfo((m["minx"][i], synth.CELL_SIZE, 0.0, m["maxy"][i], 0.0,
                             -synth.CELL_SIZE), int(m["w"][i]), int(m["h"][i]), GRID.crs))
                for i in self.members[tag])
        out = warp.mosaic(srcs, GRID.tile_info(int(tag[1:4]), int(tag[5:8])),
                          nodata=0.0, dtype=np.float64)
        return np.clip(out, 0, 255).astype(np.uint8)

    def traced_counts(self, spark, tr, k):
        from pyspark.sql import functions as F

        files, size = trace_du(os.path.join(self.tmp, f"tiles_{k}"))
        tiles = tr.outputs["operators.mosaic.tile_cut"]
        payload = tiles.agg(F.sum(F.length("data"))).collect()[0][0] or 1
        return {"sources.tile_store.files": files,
                "sources.tile_store.bytes_per_payload_byte": size / payload}

    def probes(self, spark, tr):
        """The NumPy kernels timed on the driver on this run's own data."""
        import time

        out = {}
        for fmt in ("png", "jpeg", "npy"):
            rows = self.sample_payloads[self.sample_payloads["fmt"] == fmt]["bytes"]
            t0 = time.perf_counter()
            for b in rows:
                codecs.decode(b, fmt)
            out[f"codecs.decode_ms_per_image.{fmt}"] = (
                1e3 * (time.perf_counter() - t0) / max(len(rows), 1))
        arrays = [a for _n, a in self.sample.values()]
        t0 = time.perf_counter()
        for a in arrays:
            codecs.encode_png(a)
        out["codecs.encode_png_ms_per_tile"] = 1e3 * (time.perf_counter() - t0) / len(arrays)
        t0 = time.perf_counter()
        for tag in self.sample:
            self._mosaic(tag)
        out["kernels.warp.mosaic_ms_per_tile"] = 1e3 * (time.perf_counter() - t0) / len(arrays)
        return out

    def check(self, answer):
        import json

        if answer["written"] != {"written": self.n_tiles, "skipped": 0}:
            return False
        for tag, (n_images, want) in self.sample.items():
            col, row = int(tag[1:4]), int(tag[5:8])
            base = os.path.join(answer["dir"], "data", f"h{col:03d}", f"v{row:03d}",
                                tag, f"{tag}_dat")
            with open(base + ".met") as f:
                if json.load(f)["n_images"] != n_images:
                    return False
            with open(base + ".png", "rb") as f:
                if not np.array_equal(codecs.decode_png(f.read()), want):
                    return False
        got, exp = answer["zonal"], self.expected_zonal
        if got.keys() != exp.keys():
            return False
        return all(got[z][:2] == exp[z][:2]
                   and np.allclose(got[z][2:], exp[z][2:], rtol=1e-9, atol=1e-9)
                   for z in exp)

    def cleanup_job(self, k):
        shutil.rmtree(os.path.join(self.tmp, f"tiles_{k}"), ignore_errors=True)


# ---------------------------------------------------------------------------
# shared text corpus: a fixed ~300-token vocabulary of random letter strings
# ---------------------------------------------------------------------------

def vocabulary(n: int = 300) -> np.ndarray:
    rng = np.random.default_rng(20240601)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return np.array(["".join(rng.choice(letters, size=int(rng.integers(5, 9))))
                     for _ in range(n)])


def random_texts(rng, n: int, lo: int, hi: int, vocab) -> list:
    lens = rng.integers(lo, hi, size=n)
    words = vocab[rng.integers(0, len(vocab), size=int(lens.sum()))]
    ends = np.cumsum(lens)
    return [" ".join(words[e - m:e]) for e, m in zip(ends, lens)]


class _UnionFind:
    def __init__(self):
        self.parent: dict = {}

    def find(self, x):
        while self.parent.get(x, x) != x:
            x = self.parent[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            self.parent[hi] = lo

    def losers(self) -> set:
        """Every clustered node except its cluster's minimum."""
        return {x for x in self.parent if self.find(x) != x}


class CaptionDedup(Workload):
    """``components.cross_modal_dedup`` over documents + an image/caption
    table whose duplicates are planted by construction."""
    name = "caption_dedup"
    # 7k / 28k / 70k rows took 6.0 / 7.2 / 10.4 s per warm job at local[4]:
    # about 5.8 s fixed (some 75 Spark jobs) plus 0.065 ms per row
    BASE_DOCS, BASE_IMAGES = 50_000, 20_000

    def prepare(self, spark, seed, tmp):
        rng = np.random.default_rng(seed)
        vocab = vocabulary()
        n_docs, n_img = self.n(self.BASE_DOCS), self.n(self.BASE_IMAGES)
        d0 = id_start(seed, 1_000_000)
        self.items, self.tmp = n_docs + n_img, tmp
        doc_ids = np.arange(d0, d0 + n_docs, dtype=np.int64)
        texts = random_texts(rng, n_docs, 40, 60, vocab)
        img_ids = np.array(["p%07d" % i for i in rng.permutation(n_img)])
        captions = random_texts(rng, n_img, 8, 16, vocab)
        phash = rng.integers(0, 2 ** 64, size=n_img, dtype=np.uint64)
        uf = _UnionFind()
        # disjoint role slots: doc-doc copies, caption copies / near-copies,
        # phash near-duplicates (some chained onto caption copies)
        q = max(1, n_docs // 20)
        dsrc, ddup = np.arange(0, q), np.arange(q, 2 * q)
        for a, b in zip(dsrc, ddup):
            texts[b] = texts[a]
            uf.union(f"doc:{doc_ids[a]}", f"doc:{doc_ids[b]}")
        qi = max(1, n_img // 20)
        cap_docs = np.arange(2 * q, 2 * q + 2 * qi)
        for j, d in enumerate(cap_docs):
            near = j % 2 == 1
            captions[j] = texts[d] + (" " + vocab[j % len(vocab)] if near else "")
            uf.union(f"doc:{doc_ids[d]}", f"img:{img_ids[j]}")
        for j in range(2 * qi, 4 * qi):
            src = j - 2 * qi if (j % 3 == 0) else j + 2 * qi
            if src >= n_img:
                continue
            bits = rng.choice(64, size=int(rng.integers(1, 4)), replace=False)
            phash[j] = phash[src] ^ np.uint64(sum(1 << int(b) for b in bits))
            uf.union(f"img:{img_ids[src]}", f"img:{img_ids[j]}")

        nodes = [f"doc:{i}" for i in doc_ids] + [f"img:{i}" for i in img_ids]
        self.expected = set(nodes) - uf.losers()
        self.docs_path = os.path.join(tmp, "docs")
        self.img_path = os.path.join(tmp, "captions")
        parts = self.parts(spark)
        _write_pdf(spark, pd.DataFrame({"doc_id": doc_ids, "text": texts}),
                   self.docs_path, parts, "doc_id long, text string")
        _write_pdf(spark, pd.DataFrame({"image_id": img_ids, "caption": captions,
                                        "phash": phash.view(np.int64)}),
                   self.img_path, parts, "image_id string, caption string, phash long")

    def job(self, spark, k, tr):
        from geo_raster_spark.operators import components as cc

        docs = tr.input(spark.read.parquet(self.docs_path))
        imgs = tr.input(spark.read.parquet(self.img_path))
        survivors = cc.cross_modal_dedup(docs, imgs).select("node_id")
        rows = tr.run("operators.components.dedup_corpus", survivors.collect)
        return {r["node_id"] for r in rows}

    def traced_counts(self, spark, tr, k):
        from pyspark.sql import functions as F

        from geo_raster_spark.operators import dedup

        def bucket_pairs(table, keys, cap=200):
            n = table.groupBy(*keys).count().where(
                (F.col("count") >= 2) & (F.col("count") <= cap))
            return n.agg(F.sum(F.col("count") * (F.col("count") - 1) / 2)).collect()[0][0] or 0

        sig = tr.outputs["operators.dedup.minhash_signatures_np"]
        bands = dedup.band_table(sig)
        imgs = spark.read.parquet(self.img_path).select(
            F.col("image_id").alias("_id"), F.col("phash").alias("simhash"))
        pairs = tr.spans_named("operators.dedup.minhash_pairs_from_sig")[-1]["rows"]
        cand = bucket_pairs(bands, ["band_id", "band_hash"])
        return {"operators.dedup.band_rows": bands.count(),
                "operators.dedup.candidate_pairs": cand,
                "operators.dedup.pairs_out": pairs,
                "operators.dedup.pair_yield": pairs / cand if cand else 0.0,
                "operators.dedup.phash_candidates": bucket_pairs(
                    dedup.pigeonhole_block_table(imgs), ["block_id", "block_val"]),
                "operators.dedup.phash_pairs_out":
                    tr.spans_named("operators.dedup.phash_pairs")[-1]["rows"],
                "operators.components.rounds": tr.cc_stats.get("iterations", 0)}

    def check(self, answer):
        return answer == self.expected


# ---------------------------------------------------------------------------
# store_ingest: incremental admission batches against a persisted store
# ---------------------------------------------------------------------------

class StoreIngest(Workload):
    """``dedup.build_minhash_store`` once per run; each job copies the
    pristine store and admits one batch with ``dedup.incremental_dedup``."""
    name = "store_ingest"
    BASE_RESIDENT, BASE_BATCH = 60_000, 2_000

    def prepare(self, spark, seed, tmp):
        import time

        from geo_raster_spark.operators import dedup

        rng = np.random.default_rng(seed)
        vocab = vocabulary()
        n_res, n_b = self.n(self.BASE_RESIDENT), self.n(self.BASE_BATCH, floor=40)
        self.tmp, self.items = tmp, n_b
        r0 = id_start(seed, 10_000_000)
        res_ids = np.arange(r0, r0 + n_res, dtype=np.int64)
        res_texts = random_texts(rng, n_res, 40, 60, vocab)
        res_path = os.path.join(tmp, "resident")
        _write_pdf(spark, pd.DataFrame({"doc_id": res_ids, "text": res_texts}),
                   res_path, self.parts(spark), "doc_id long, text string")
        self.pristine = os.path.join(tmp, "store_pristine")
        t0 = time.perf_counter()
        dedup.build_minhash_store(spark.read.parquet(res_path), self.pristine)
        self.build_s = time.perf_counter() - t0

        ids = np.arange(r0 + n_res, r0 + n_res + n_b, dtype=np.int64)
        texts = random_texts(rng, n_b, 40, 60, vocab)
        q, rejected = max(1, n_b // 10), set()
        # copies of resident docs (exact and near) are rejected
        for j, src in enumerate(rng.choice(n_res, size=q, replace=False)):
            texts[j] = res_texts[src] + (" " + vocab[j % 300] if j % 2 else "")
            rejected.add(int(ids[j]))
        # in-batch copies: the later (larger) id is rejected
        for j in range(q, 2 * q):
            texts[j + q] = texts[j]
            rejected.add(int(ids[j + q]))
        self.batch = os.path.join(tmp, "batch")
        _write_pdf(spark, pd.DataFrame({"doc_id": ids, "text": texts}), self.batch,
                   self.parts(spark), "doc_id long, text string")
        self.expected = set(ids.tolist()) - rejected

    def job(self, spark, k, tr):
        from geo_raster_spark.operators import dedup

        batch = tr.input(spark.read.parquet(self.batch))
        store = os.path.join(self.tmp, f"store_{k}")
        acc = tr.run("operators.dedup.incremental_dedup", lambda: dedup.incremental_dedup(
            spark, store, batch).select("doc_id").collect())
        return {r["doc_id"] for r in acc}

    def traced_counts(self, spark, tr, k):
        files, size = trace_du(os.path.join(self.tmp, f"store_{k}"))
        files0, size0 = trace_du(self.pristine)
        return {"operators.dedup.store.build_s": self.build_s,
                "operators.dedup.store.files_added": files - files0,
                "operators.dedup.store.bytes_per_doc": (size - size0) / self.items}

    def check(self, answer):
        return answer == self.expected

    def before_job(self, k):
        shutil.copytree(self.pristine, os.path.join(self.tmp, f"store_{k}"))

    def cleanup_job(self, k):
        shutil.rmtree(os.path.join(self.tmp, f"store_{k}"), ignore_errors=True)


class CatalogTiles(Workload):
    """The raster pipeline over one id range: the flagship counts over the
    metadata catalog, then the tile cut, tile files and zonal statistics
    over the payload-carrying images.  Items are images of both parts."""
    name = "catalog_tiles"

    def __init__(self, scale: float = 1.0):
        super().__init__(scale)
        self.parts_ = [CatalogJoin(scale), TileMosaic(scale)]

    def prepare(self, spark, seed, tmp):
        for p in self.parts_:
            p.prepare(spark, seed, os.path.join(tmp, p.name))
        self.items = sum(p.items for p in self.parts_)

    def job(self, spark, k, tr):
        return [p.job(spark, k, tr) for p in self.parts_]

    def check(self, answer):
        return all(p.check(a) for p, a in zip(self.parts_, answer))

    def before_job(self, k):
        for p in self.parts_:
            p.before_job(k)

    def cleanup_job(self, k):
        for p in self.parts_:
            p.cleanup_job(k)

    def traced_counts(self, spark, tr, k):
        return {m: v for p in self.parts_ for m, v in p.traced_counts(spark, tr, k).items()}

    def probes(self, spark, tr):
        return {m: v for p in self.parts_ for m, v in p.probes(spark, tr).items()}


# the workloads BENCHMARK.json lists; the store-ingest layer is measured by
# the traced run of caption_dedup
WORKLOADS = {w.name: w for w in (CatalogTiles, CaptionDedup)}
