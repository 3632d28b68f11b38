"""tiled_halo: a few large rasters through ``tiled_dtm_transform`` with
512-px tiles (halo emit, salted exchange, zf32 payloads, stitch)."""

from __future__ import annotations

import hashlib
import os
import statistics
import time

import numpy as np

from harness import engine_calls, maybe_span
from oracle import compare_grid, golden_dtm, kernel_layers
from spatial_probe import spatial_probe
from workload import PassResult, Workload, lineage_work, raster_throughput, write_parquet


def big_raster(rng: np.random.Generator, n: int) -> np.ndarray:
    """A tilted plane with noise and a few raised blocks (buildings)."""
    yy, xx = np.mgrid[0:n, 0:n]
    g = (100.0 + 0.02 * yy + 0.01 * xx + rng.normal(0, 0.2, (n, n))).astype(np.float32)
    for _ in range(6):
        y, x, s = rng.integers(0, n - 200), rng.integers(0, n - 200), int(rng.integers(40, 180))
        g[y : y + s, x : x + s] += float(rng.uniform(6, 18))
    return g


def raster_table(seed: int, n_images: int, size: int, res_m: float):
    import pandas as pd

    from dsm2dtm_spark import codecs

    rng = np.random.default_rng(seed)
    rows, grids = [], {}
    for i in range(n_images):
        g = big_raster(rng, size)
        iid = f"big_{seed}_{i:02d}"
        grids[iid] = g
        rows.append({
            "image_id": iid, "bytes": codecs.encode_raw_f32(g), "w": size, "h": size,
            "fmt": "raw_f32", "caption": f"bench big {i}", "phash": codecs.ahash64(g),
            "lon0": 2.0 + i * 0.5, "lat0": 36.0, "xres_m": res_m, "yres_m": res_m, "crs": 32631,
        })
    return pd.DataFrame(rows), grids


class TiledHalo(Workload):
    why = ("per-row overhead is negligible; halo emit, salted exchange, zf32 payloads, stitch and "
           "kernels dominate; the resume/commit path is bypassed")
    units = "tiles_per_s"
    params = {
        "generator": "seeded tilted plane + noise + blocks (as bench.py's big rasters)",
        "images": 2,
        "size_px": 1024,
        "res_m": 2.0,
        "tile_px": 512,
        "radius_m": 15.0,
        "warmup_size_px": 512,
    }

    def prepare(self, spark, round_dir):
        p = self.params
        pdf, self.grids = raster_table(self.seed, p["images"], p["size_px"], p["res_m"])
        self.path = os.path.join(round_dir, "big.parquet")
        write_parquet(pdf, self.path, row_group_size=1)
        warm, _ = raster_table(self.seed + 1, 1, p["warmup_size_px"], p["res_m"])
        self.warm_path = os.path.join(round_dir, "warm.parquet")
        write_parquet(warm, self.warm_path, row_group_size=1)
        tiles_per_side = -(-p["size_px"] // p["tile_px"])
        self.tiles = p["images"] * tiles_per_side**2
        self.pixels = p["images"] * p["size_px"] ** 2
        self.digests: dict | None = None

    def _transform(self, spark, path):
        from dsm2dtm_spark.operators.tiling import tiled_dtm_transform

        p = self.params
        return tiled_dtm_transform(spark.read.parquet(path), tile_px=p["tile_px"], radius_m=p["radius_m"])

    def warmup(self, spark):
        self._transform(spark, self.warm_path).select("image_id", "bytes").collect()

    def run_pass(self, spark, i, tracer):
        from dsm2dtm_spark import codecs

        with engine_calls(tracer) as m, maybe_span(tracer, "operators.tiling.tiled_dtm_transform"):
            rows = self._transform(spark, self.path).collect()
        res = PassResult(**m, attempted=len(self.grids), traced=tracer is not None)
        res.work = {"tiles": self.tiles, "pixels": self.pixels}
        by_id = {r.image_id: r for r in rows}
        bad = set(self.grids) - set(by_id)
        if len(rows) != len(by_id) or set(by_id) - set(self.grids):
            res.mismatches.append(f"pass {i}: {len(rows)} output rows for {len(self.grids)} images")
        digests = {iid: hashlib.md5(r.bytes).hexdigest() for iid, r in by_id.items() if r.bytes is not None}
        bad |= set(by_id) - set(digests)
        if self.digests is None:
            # first pass: every stitched row against the whole-image golden
            self.digests = digests
            for iid in sorted(set(self.grids) - bad):
                r = by_id[iid]
                want = golden_dtm(self.grids[iid], self.params["res_m"], self.params["res_m"],
                                  self.params["radius_m"], tracer)
                got = codecs.decode(r.bytes, int(r.h), int(r.w), r.fmt)
                note = compare_grid(iid, want, got, r.fmt)
                if note:
                    bad.add(iid)
                    res.mismatches.append(note)
        else:
            # later passes: byte-identical to the first (checked) pass
            for iid, dg in digests.items():
                if self.digests.get(iid) != dg:
                    bad.add(iid)
                    res.mismatches.append(f"pass {i}: {iid} differs from pass 0")
        res.failed = len(bad)
        res.work.update(lineage_work(rows, "compute_ms"))
        return res

    def layer_probes(self, spark, tracer):
        """The four tiling stages run one by one with an eager checkpoint
        between them (so each stage's time is serialized, not overlapped as
        in the real plan), plus the zf32 payload ratio, the halo overhead and
        the spatial probe (see ``spatial_probe``); returns its mismatch notes."""
        from pyspark.sql import functions as F

        from dsm2dtm_spark import codecs
        from dsm2dtm_spark.operators import tiling

        p = self.params
        images = spark.read.parquet(self.path)
        n_img = len(self.grids)
        t = {}
        with tracer.span("tiling.serialized"):
            t0 = time.perf_counter()
            stats = tiling.image_stats(images, p["radius_m"], None, chunked=True).localCheckpoint(eager=True)
            t["stats"] = time.perf_counter() - t0
            halo = tiling.halo_from_metadata(images, p["radius_m"])
            t0 = time.perf_counter()
            tiles = tiling.emit_tiles(
                images.join(F.broadcast(halo), on="image_id", how="inner"), p["tile_px"], chunked=True
            ).localCheckpoint(eager=True)
            t["emit"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            processed = tiling.process_tiles(tiles, stats, n_tiles_hint=self.tiles).localCheckpoint(eager=True)
            t["process"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            tiling.stitch(processed, n_images_hint=n_img).select("image_id", "bytes").collect()
            t["stitch"] = time.perf_counter() - t0
        cuts = tiles.select("cut_h", "cut_w", "core_h", "core_w", "payload").collect()
        core_px = sum(r.core_h * r.core_w for r in cuts)
        cut_px = sum(r.cut_h * r.cut_w for r in cuts)
        # zf32 ratio: raw float32 bytes of each core tile window over its zf32 encoding
        grid = next(iter(self.grids.values()))
        raw = comp = 0
        for r in tiling.tile_grid(grid.shape[0], grid.shape[1], p["tile_px"]):
            win = np.ascontiguousarray(grid[r[2] : r[2] + r[4], r[3] : r[3] + r[5]])
            raw += win.nbytes
            comp += len(codecs.encode_zf32(win))
        # kernels: the golden pipeline single-threaded on one quarter of a raster
        crop = np.ascontiguousarray(grid[: grid.shape[0] // 2, : grid.shape[1] // 2])
        golden_dtm(crop, p["res_m"], p["res_m"], p["radius_m"], tracer)
        self.kernel_pixels = crop.size
        self.layers.update({
            "tiling.stats_s": t["stats"], "tiling.emit_s": t["emit"],
            "tiling.process_s": t["process"], "tiling.stitch_s": t["stitch"],
            "tiling.stages_note": "serialized: each stage timed alone between eager checkpoints",
            "tiling.halo_px_ratio": cut_px / core_px,
            "tiling.tile_payload_mb": sum(len(r.payload) for r in cuts) / 1e6,
            "codecs.zf32_ratio": raw / comp,
        })
        spatial_layers, notes = spatial_probe(spark, self.seed, self.fresh_dir("spatial"), tracer)
        self.layers.update(spatial_layers)
        if spatial_layers["spatial.candidates"] is None:
            self.absent["spatial.candidates"] = "no scalar UDF named pip in the executed join plan"
        return notes

    def layer_metrics(self, traced, self_t, outer_t, plan):
        out = dict(self.layers)
        # the halo exchange and the stitch groupBy are the plan's only shuffles
        out["tiling.shuffle_mb"] = plan["exchange.shuffle_mb"]
        out.update(kernel_layers(self.kernel_pixels, outer_t, 1))
        out["udf.compute_s"] = statistics.median(p.work["compute_s"] for p in traced)
        out["udf.partition_skew"] = statistics.median(p.work["partition_skew"] for p in traced)
        return out

    def throughput(self, passes):
        return raster_throughput(self.tiles, self.pixels, passes)
