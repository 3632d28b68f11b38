"""mosaic: many small mixed images through ``run_dtm_job``, then a delta
appended and the job rerun, which must process exactly the delta."""

from __future__ import annotations

import math
import os
import statistics
import time

import numpy as np

from harness import engine_calls
from workload import PassResult, Workload, lineage_work, raster_throughput
from oracle import check_dtm_rows, kernel_layers

TILE = 128


def _size_balanced_table(seed: int, sizes: tuple, per_size: int, dup_fraction: float):
    """``per_size`` images of every size (so total pixels do not depend on
    the seed); scenario and codec are drawn per row by ``synth.image_table``."""
    import pandas as pd

    from dsm2dtm_spark import synth

    parts = []
    for k, size in enumerate(sizes):
        pdf = synth.image_table(
            n_rows=per_size, seed=seed * 1009 + k, sizes=(size,), dup_fraction=dup_fraction
        )
        pdf["image_id"] = [f"s{size}_{iid}" for iid in pdf["image_id"]]
        parts.append(pdf)
    # interleave sizes so base/delta both hold every size
    pdf = pd.concat(parts, ignore_index=True)
    order = np.argsort(np.arange(len(pdf)) % per_size * len(sizes) + np.arange(len(pdf)) // per_size)
    return pdf.iloc[order].reset_index(drop=True)


class Mosaic(Workload):
    why = ("per-row fixed costs dominate (Python boot, Arrow transfer, codecs, snapshot commit); "
           "no pixels are shuffled; reads and writes hit the same sources layer")
    units = "tiles_per_s"
    params = {
        "generator": "synth.image_table",
        "sizes_px": [128, 192, 256, 384],
        "images_per_size": 6,
        "delta_images": 4,
        "dup_fraction": 0.05,
        "codecs": "raw_f32, png16, qz8 (drawn per row)",
        "scenarios": "all synth.SCENARIOS (drawn per row)",
        "radius_m": 40.0,
        "tile_px_for_tiles_metric": TILE,
        "checked_rows_per_pass": 3,
    }

    def prepare(self, spark, round_dir):
        from dsm2dtm_spark.sources import SnapshotTable

        p = self.params
        pdf = _size_balanced_table(self.seed, tuple(p["sizes_px"]), p["images_per_size"], p["dup_fraction"])
        n_delta = p["delta_images"]
        self.base, self.delta = pdf.iloc[:-n_delta].reset_index(drop=True), pdf.iloc[-n_delta:].reset_index(drop=True)
        self.inputs = {r.image_id: r for r in pdf.itertuples(index=False)}
        self.tiles = int(sum(math.ceil(w / TILE) * math.ceil(h / TILE) for w, h in zip(pdf.w, pdf.h)))
        self.pixels = int((pdf.w.astype(np.int64) * pdf.h).sum())
        # warm-up tables: a handful of rows through the same job
        warm_in = SnapshotTable(os.path.join(round_dir, "warm_in"))
        warm_in.write_pandas(self.base.iloc[:2])
        self._warm = (warm_in, SnapshotTable(os.path.join(round_dir, "warm_out")))

    def warmup(self, spark):
        from dsm2dtm_spark.plans import run_dtm_job

        run_dtm_job(spark, self._warm[0], self._warm[1], radius_m=self.params["radius_m"])

    def _targets(self):
        from dsm2dtm_spark.plans import dtm_job
        from dsm2dtm_spark.sources.manifest import SnapshotTable

        return [
            (dtm_job, "run_dtm_job", "plans.run_dtm_job"),
            (dtm_job, "resume_remaining", "plans.resume_remaining"),
            (dtm_job, "dtm_transform", "plans.dtm_transform"),
            (SnapshotTable, "read", "sources.read"),
            (SnapshotTable, "write_dataframe", "sources.write_dataframe"),
            (SnapshotTable, "write_pandas", "sources.write_pandas"),
            (SnapshotTable, "commit", "sources.commit"),
        ]

    def run_pass(self, spark, i, tracer):
        from dsm2dtm_spark.plans import dtm_job
        from dsm2dtm_spark.sources import SnapshotTable

        d = self.fresh_dir("pass", str(i))
        src, out = SnapshotTable(os.path.join(d, "in")), SnapshotTable(os.path.join(d, "out"))
        src.write_pandas(self.base)
        radius = self.params["radius_m"]
        with engine_calls(tracer, self._targets()) as m:
            n1, _ = dtm_job.run_dtm_job(spark, src, out, radius_m=radius)
            src.write_pandas(self.delta)
            n2, _ = dtm_job.run_dtm_job(spark, src, out, radius_m=radius)
        res = PassResult(**m, attempted=len(self.base) + len(self.delta), traced=tracer is not None)
        res.work = {"tiles": self.tiles, "pixels": self.pixels, "images": res.attempted}
        if (n1, n2) != (len(self.base), len(self.delta)):
            res.mismatches.append(f"processed {n1}+{n2} rows, expected {len(self.base)}+{len(self.delta)}")
        rows = out.read(spark).select(
            "image_id", "bytes", "w", "h", "fmt", "wall_ms", "partition_id", "error"
        ).collect()
        by_id = {r.image_id: r for r in rows}
        expected = set(self.inputs)
        bad = {r.image_id for r in rows if r.error is not None or r.bytes is None}
        bad |= expected - set(by_id)
        if len(rows) != len(by_id):
            res.mismatches.append(f"{len(rows) - len(by_id)} duplicate output rows")
        if set(by_id) - expected:
            res.mismatches.append(f"{len(set(by_id) - expected)} unexpected output rows")
        k = self.params["checked_rows_per_pass"]
        ids = sorted(expected)
        sample = [ids[(i * k + j) % len(ids)] for j in range(k)]
        for iid in sample:
            if iid in by_id and iid not in bad:
                note = check_dtm_rows(self.inputs[iid], by_id[iid], radius, tracer)
                res.work["checked_pixels"] = res.work.get("checked_pixels", 0) + int(by_id[iid].w) * int(by_id[iid].h)
                if note:
                    bad.add(iid)
                    res.mismatches.append(note)
        res.failed = len(bad)
        if len(bad) and not res.mismatches:
            res.mismatches.append(f"{len(bad)} rows missing or quarantined")
        res.work.update(lineage_work(rows, "wall_ms"))
        return res

    def layer_probes(self, spark, tracer):
        """Codec costs on pass 0's rows, single-threaded in the driver process:
        decode every input payload, encode every decoded output grid."""
        from dsm2dtm_spark import codecs
        from dsm2dtm_spark.sources import SnapshotTable

        out = SnapshotTable(os.path.join(self.workdir, "pass", "0", "out"))
        outs = out.read(spark).select("image_id", "bytes", "w", "h", "fmt").collect()
        t_dec = t_enc = 0.0
        mb_in = mb_out = 0.0
        for r in outs:
            src = self.inputs[r.image_id]
            t0 = time.perf_counter()
            codecs.decode(src.bytes, int(src.h), int(src.w), src.fmt)
            t_dec += time.perf_counter() - t0
            grid = codecs.decode(r.bytes, int(r.h), int(r.w), r.fmt)
            t0 = time.perf_counter()
            codecs.encode(grid, r.fmt)
            t_enc += time.perf_counter() - t0
            mb_in += len(src.bytes) / 1e6
            mb_out += len(r.bytes) / 1e6
        self.layers.update({
            "codecs.decode_s": t_dec, "codecs.encode_s": t_enc,
            "codecs.mb_in": mb_in, "codecs.mb_out": mb_out,
        })
        return []

    def throughput(self, passes):
        return raster_throughput(self.tiles, self.pixels, passes)

    def layer_metrics(self, traced, self_t, outer_t, plan):
        n = max(len(traced), 1)
        out = dict(self.layers)
        out.update(kernel_layers(sum(p.work.get("checked_pixels", 0) for p in traced), outer_t, len(traced)))
        out["sources.write_s"] = self_t.get("sources.write_dataframe", 0.0) / n
        out["sources.commit_s"] = outer_t.get("sources.commit", 0.0) / n
        out["plans.resume_s"] = self_t.get("plans.run_dtm_job", 0.0) / n
        out["udf.compute_s"] = statistics.median(p.work["compute_s"] for p in traced)
        out["udf.partition_skew"] = statistics.median(p.work["partition_skew"] for p in traced)
        return out
