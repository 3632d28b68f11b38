"""Raster tiling with halo exchange and seam-merge stitching (SURVEY.md E4,
E5, E8) — the scale path for rasters too large to process one-per-task.

Plan shape (SURVEY.md §3 engine lifecycle):

    pass 1  image_stats     mapInPandas: per-image global scalars (valid min,
                            auto slope, dims → derived params + halo). These
                            are the whole-image quantities tiles cannot know
                            locally (reference algorithm.py:197, 382-388).
    pass 2  emit_tiles      mapInPandas: cut overlapping tiles (core + halo ≥
                            total influence radius), key each by its S2-style
                            cell id + a salt column; `repartition(cell_id,
                            salt)` is the explicit halo-exchange shuffle and
                            the skew control for hot cells (E13).
    pass 3  process_tiles   mapInPandas: run the standard pipeline per tile
                            with injected global scalars, keep only the core.
    pass 4  stitch          groupBy(image_id).applyInPandas: reassemble and
                            re-encode; bit-identical to the whole-image path.

Exactness argument (tested): every stage's output pixel depends on inputs
within a bounded radius; the halo is the sum of those radii
(params.total_influence_px), so core pixels see exactly the data they would
see in the whole image. Clipping the halo cut at image borders lands the tile
edge ON the image border, where reflect padding is the whole-image semantics
too. Global scalars: the valid minimum provably survives PMF and refinement
(tests/test_golden.py::test_global_min_preserved...), so pass-1's input min
serves every min-fill; slope/param/window clamps come from pass-1 dims.

The coarse path (cell_size < 0.45 m) resamples with whole-image endpoint-
aligned coordinates and cannot be tiled exactly — ``tiled_dtm_transform``
routes such rows to the whole-image plan inside the same job (a metadata
predicate split + unionByName); ``image_stats`` still hard-fails if a coarse
row reaches the tile stages directly.
"""

from __future__ import annotations

import math
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from dsm2dtm_spark import codecs, golden
from dsm2dtm_spark.operators import cellindex
from dsm2dtm_spark.util import ensure_min_partitions
from dsm2dtm_spark.params import (
    MAX_HALO_PX,
    MAX_WINDOW_PX,
    MIN_PROCESS_RES_M,
    NODATA_DEFAULT,
    PMF_BASE_SLOPE,
    PMF_INIT_THRESHOLD,
    PMF_MAX_THRESHOLD,
    apply_radius_override,
    derive_params,
    total_influence_px,
)

# equirectangular meters→degrees anchors shared with the SQL oracle
M_PER_DEG_LAT = 110540.0
M_PER_DEG_LON_EQ = 111320.0
# Longitude-scale factor: a fixed quadratic stand-in for cos(lat) built from
# exactly-rounded IEEE mul/add only, so Spark (JVM Math.cos) and DuckDB (libm
# cos) cannot disagree by an ulp and flip a cell-boundary floor. Accuracy vs
# true cos is irrelevant — it defines this engine's tile→lon mapping.
LON_SCALE_C2 = 1.523e-4


def lon_scale(lat_deg: float) -> float:
    return 1.0 - LON_SCALE_C2 * lat_deg * lat_deg
DEFAULT_CELL_RES = 14
N_SALT = 8

STATS_SCHEMA = StructType(
    [
        StructField("image_id", StringType()),
        StructField("min_valid", DoubleType()),
        StructField("slope_used", DoubleType()),
        StructField("cell_size", DoubleType()),
        StructField("init_window", IntegerType()),
        StructField("max_window", IntegerType()),
        StructField("refine_sigma", DoubleType()),
        StructField("final_sigma", DoubleType()),
        StructField("gap_dist_px", DoubleType()),
        StructField("halo_px", IntegerType()),
        StructField("error", StringType()),
    ]
)

TILE_SCHEMA = StructType(
    [
        StructField("image_id", StringType()),
        StructField("tile_row", IntegerType()),
        StructField("tile_col", IntegerType()),
        StructField("cell_id", LongType()),
        StructField("salt", IntegerType()),
        StructField("core_y", IntegerType()),
        StructField("core_x", IntegerType()),
        StructField("core_h", IntegerType()),
        StructField("core_w", IntegerType()),
        StructField("cut_y", IntegerType()),
        StructField("cut_x", IntegerType()),
        StructField("cut_h", IntegerType()),
        StructField("cut_w", IntegerType()),
        StructField("payload", BinaryType()),
        StructField("fmt", StringType()),
        StructField("caption", StringType()),
        StructField("img_h", IntegerType()),
        StructField("img_w", IntegerType()),
    ]
)


def tile_grid(h: int, w: int, tile_px: int) -> list[tuple[int, int, int, int, int, int]]:
    """Deterministic tile plan: (tile_row, tile_col, core_y, core_x, core_h,
    core_w). Last row/col tiles absorb the remainder."""
    n_rows = max(1, math.ceil(h / tile_px))
    n_cols = max(1, math.ceil(w / tile_px))
    out = []
    for tr in range(n_rows):
        for tc in range(n_cols):
            y = tr * tile_px
            x = tc * tile_px
            out.append((tr, tc, y, x, min(tile_px, h - y), min(tile_px, w - x)))
    return out


def tile_center_lonlat(
    lon0: float, lat0: float, xres_m: float, yres_m: float, cx_px: float, cy_px: float
) -> tuple[float, float]:
    """Equirectangular anchor + pixel offset → lon/lat of a tile center.
    (lon0, lat0) anchor the image's top-left pixel; y grows southward.
    The same arithmetic is emitted to SQL for the assignment oracle."""
    lat = lat0 - (cy_px * yres_m) / M_PER_DEG_LAT
    lon = lon0 + (cx_px * xres_m) / (M_PER_DEG_LON_EQ * lon_scale(lat0))
    return lon, lat


def image_stats(
    images: DataFrame,
    radius_m: float | None,
    slope: float | None,
    chunked: bool = False,
    permissive: bool = False,
) -> DataFrame:
    """Pass 1: per-image global scalars. Cheap relative to pass 3 (decode +
    one gradient/median), and the only stage that must see whole images.

    ``chunked=True`` streams raw_f32/png16 payloads in row blocks through the
    bounded-memory exact (min, median-slope) kernel
    (kernels.streamstats) — identical results, memory O(block) instead of
    O(image), for rasters beyond single-task decode budgets (png16 rows are
    zlib-sequential, so each pass re-inflates scanline-by-scanline).

    ``permissive=True``: a poison payload yields a stats row with ``error``
    set and null scalars instead of killing the job; downstream tile stages
    see only error-free rows (pass 1 is the single place original bytes are
    first decoded, so the quarantine decision is made exactly once)."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from dsm2dtm_spark.kernels.streamstats import CHUNKED_FORMATS, chunked_min_and_slope

        def one(row) -> dict:
            cell_size = max((abs(row.xres_m) + abs(row.yres_m)) / 2.0, 0.001)
            if cell_size < MIN_PROCESS_RES_M * 0.9:
                raise ValueError(
                    f"{row.image_id}: cell_size {cell_size} routes to the coarse path, "
                    "which is whole-image by construction — use the whole-image plan"
                )
            h, w = int(row.h), int(row.w)
            max_dim = max(h, w)
            # windows/sigmas/halo depend only on (resolution, dims, radius) —
            # derive and safety-check them from METADATA, before any decode,
            # so a runaway kernel/halo config fails fast even on a raster
            # whose decode itself would be the OOM (slope only sets slope_px,
            # patched after estimation below)
            p = derive_params(cell_size, max_image_dim=max_dim, base_slope=PMF_BASE_SLOPE)
            if radius_m is not None:
                apply_radius_override(p, radius_m, cell_size, max_dim)
            halo = total_influence_px(p)
            if halo > MAX_HALO_PX:
                # each tile ships (tile+2·halo)² f32 pixels through the
                # shuffle — a runaway halo is an OOM, not a slow job
                raise ValueError(
                    f"{row.image_id}: derived halo {halo}px exceeds the safety cap "
                    f"{MAX_HALO_PX}px (kernel cap {MAX_WINDOW_PX}px); "
                    "reduce the radius or downsample first"
                )
            # the streamed kernel covers the no-decimation slope domain
            # (res ≥ 0.5); rarer sub-0.5 m standard rows decode whole-image
            if chunked and row.fmt in CHUNKED_FORMATS and cell_size >= 0.5:
                mn, s_auto = chunked_min_and_slope(row.bytes, h, w, cell_size, NODATA_DEFAULT, fmt=row.fmt)
                s = slope if slope is not None else s_auto
            else:
                grid = codecs.decode(row.bytes, h, w, row.fmt)
                valid = grid != NODATA_DEFAULT
                mn = float(grid[valid].min()) if valid.any() else float("nan")
                s = slope if slope is not None else golden.terrain_slope(grid, cell_size, NODATA_DEFAULT)
            p.slope_px = float(s) * cell_size
            return {
                "image_id": row.image_id,
                "min_valid": mn,
                "slope_used": float(s),
                "cell_size": cell_size,
                "init_window": p.init_window,
                "max_window": p.max_window,
                "refine_sigma": p.refine_sigma,
                "final_sigma": p.final_sigma,
                "gap_dist_px": p.gap_dist_px,
                "halo_px": halo,
                "error": None,
            }

        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False):
                try:
                    rows.append(one(row))
                except Exception as exc:  # noqa: BLE001 — quarantined, not swallowed
                    if not permissive:
                        raise
                    rows.append(
                        {k: None for k in STATS_SCHEMA.fieldNames()}
                        | {"image_id": row.image_id, "error": f"{type(exc).__name__}: {exc}"[:500]}
                    )
            yield pd.DataFrame(rows, columns=STATS_SCHEMA.fieldNames())

    return images.mapInPandas(stats, STATS_SCHEMA)


def halo_from_metadata(images: DataFrame, radius_m: float | None) -> DataFrame:
    """(image_id, halo_px) from METADATA alone — no decode. Windows, sigmas
    and therefore the halo depend only on (resolution, dims, radius): this is
    exactly the pre-decode derivation ``image_stats`` runs (same
    ``derive_params``/``apply_radius_override``/``total_influence_px`` calls
    on the same inputs — ``slope`` never enters, it only patches ``slope_px``
    after estimation), so the value is the same integer.

    Purpose (r7, guide §1.2 "remove unnecessary passes"): pass 2's tile cut
    needs ONLY ``halo_px`` from pass 1, but the halo join made the whole
    decode-everything stats pass a *serial* prerequisite of the tile stages.
    With the halo derived from metadata, pass 1 devolves to a broadcast-build
    subtree of the process join that AQE materializes CONCURRENTLY with the
    emit/shuffle map stage — same two decode passes, no longer back-to-back.
    The same metadata safety checks fail fast here (coarse row reaching the
    tile stages, runaway halo)."""

    def halos(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"image_id": [], "halo_px": []}
            for row in pdf.itertuples(index=False):
                cell_size = max((abs(row.xres_m) + abs(row.yres_m)) / 2.0, 0.001)
                if cell_size < MIN_PROCESS_RES_M * 0.9:
                    raise ValueError(
                        f"{row.image_id}: cell_size {cell_size} routes to the coarse "
                        "path, which is whole-image by construction — use the "
                        "whole-image plan"
                    )
                max_dim = max(int(row.h), int(row.w))
                p = derive_params(cell_size, max_image_dim=max_dim, base_slope=PMF_BASE_SLOPE)
                if radius_m is not None:
                    apply_radius_override(p, radius_m, cell_size, max_dim)
                halo = total_influence_px(p)
                if halo > MAX_HALO_PX:
                    raise ValueError(
                        f"{row.image_id}: derived halo {halo}px exceeds the safety cap "
                        f"{MAX_HALO_PX}px (kernel cap {MAX_WINDOW_PX}px); "
                        "reduce the radius or downsample first"
                    )
                out["image_id"].append(row.image_id)
                out["halo_px"].append(halo)
            yield pd.DataFrame(out, columns=["image_id", "halo_px"])

    meta = images.select("image_id", "h", "w", "xres_m", "yres_m")
    return meta.mapInPandas(
        halos,
        StructType([StructField("image_id", StringType()), StructField("halo_px", IntegerType())]),
    )


def emit_tiles(
    images_with_stats: DataFrame,
    tile_px: int,
    cell_res: int = DEFAULT_CELL_RES,
    chunked: bool = False,
) -> DataFrame:
    """Pass 2: cut overlapping tiles. The cut window is the core expanded by
    halo_px, clipped to the image — clipping lands on true image borders where
    reflect padding is exact.

    ``chunked=True`` cuts tiles from a SLIDING ROW WINDOW over the encoded
    payload (the streamstats block sources with halo = halo_px) instead of
    decoding the whole raster: task memory becomes O((tile_px + 2·halo) × w)
    rather than O(h × w) — with chunked pass-1 stats this lets a raster far
    beyond executor memory (10-gigapixel GeoTIFF class) flow through the
    tiled plan. Output rows are byte-identical to the whole-image cut."""

    def tiles(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from dsm2dtm_spark.kernels.streamstats import CHUNKED_FORMATS, block_source_for

        for pdf in batches:
            out = {k: [] for k in TILE_SCHEMA.fieldNames()}

            def add(row, h, w, tr, tc, cy, cx, ch, cw, cut_y, cut_x, cut_arr):
                lon_c, lat_c = tile_center_lonlat(
                    row.lon0, row.lat0, row.xres_m, row.yres_m, cx + cw / 2.0, cy + ch / 2.0
                )
                cell = int(cellindex.encode_cells(np.array([lon_c]), np.array([lat_c]), cell_res)[0])
                out["image_id"].append(row.image_id)
                out["tile_row"].append(tr)
                out["tile_col"].append(tc)
                out["cell_id"].append(cell)
                out["salt"].append(zlib.crc32(f"{row.image_id}/{tr}/{tc}".encode()) % N_SALT)
                out["core_y"].append(cy)
                out["core_x"].append(cx)
                out["core_h"].append(ch)
                out["core_w"].append(cw)
                out["cut_y"].append(cut_y)
                out["cut_x"].append(cut_x)
                out["cut_h"].append(cut_arr.shape[0])
                out["cut_w"].append(cut_arr.shape[1])
                # zf32 (zlib-1 over f32, lossless): the payload crosses one
                # Arrow boundary out, the salted shuffle, and one boundary
                # back in — compressing here cuts the plan's memory traffic
                # 3-200×, which is the measured 8→32 scaling ceiling
                out["payload"].append(codecs.encode_zf32(cut_arr))
                out["fmt"].append(row.fmt)
                out["caption"].append(row.caption)
                out["img_h"].append(h)
                out["img_w"].append(w)

            for row in pdf.itertuples(index=False):
                h, w = int(row.h), int(row.w)
                halo = int(row.halo_px)
                if chunked and row.fmt in CHUNKED_FORMATS:
                    src = block_source_for(row.bytes, h, w, row.fmt, block_rows=tile_px, halo=halo)
                    n_cols = max(1, math.ceil(w / tile_px))
                    for cy, y1, lo, blk in src():  # one band of tiles per block
                        tr = cy // tile_px
                        for tc in range(n_cols):
                            cx = tc * tile_px
                            cw = min(tile_px, w - cx)
                            x0 = max(0, cx - halo)
                            x1 = min(w, cx + cw + halo)
                            add(row, h, w, tr, tc, cy, cx, y1 - cy, cw, lo, x0, blk[:, x0:x1])
                    continue
                grid = codecs.decode(row.bytes, h, w, row.fmt)
                for tr, tc, cy, cx, ch, cw in tile_grid(h, w, tile_px):
                    y0 = max(0, cy - halo)
                    x0 = max(0, cx - halo)
                    y1 = min(h, cy + ch + halo)
                    x1 = min(w, cx + cw + halo)
                    add(row, h, w, tr, tc, cy, cx, ch, cw, y0, x0, grid[y0:y1, x0:x1])
            yield pd.DataFrame(out)

    return images_with_stats.mapInPandas(tiles, TILE_SCHEMA)


def process_tiles(
    tiles: DataFrame,
    stats: DataFrame,
    salted: bool = True,
    init_threshold: float = PMF_INIT_THRESHOLD,
    max_threshold: float = PMF_MAX_THRESHOLD,
    n_tiles_hint: int | None = None,
) -> DataFrame:
    """Pass 3: salted-shuffle tiles to executors keyed by cell id, then run
    the pipeline per tile with the pass-1 global scalars injected. The
    repartition IS the halo exchange: overlapping pixel strips travel with
    their tile, so no neighbor join is needed afterwards. ``salted=False``
    exists only for the skew A/B benchmark (scripts/skew_ab.py)."""
    keys = [F.col("cell_id"), F.col("salt")] if salted else [F.col("cell_id")]
    # EXPLICIT partition count: with a bare repartition(cols), AQE coalesces
    # this shuffle to ~1 partition per core (parallelismFirst; measured: 192
    # tiles → 9 partitions at 8 cores) — but a partition's cost here is
    # pixel-kernel CPU per tile, so one task per core leaves zero slack for
    # tile-count imbalance and nothing pipelines across waves. A
    # user-specified count is not AQE-coalescible; several tasks per core
    # restore balance.
    n_parts = max(4 * tiles.sparkSession.sparkContext.defaultParallelism, N_SALT)
    if n_tiles_hint is not None:
        # a caller-known tile count caps the explicit exchange at one
        # partition per tile (the useful maximum): each surplus partition is
        # an EMPTY mapInPandas task that still pays the full python-worker
        # task round trip (event log, 4-core box: 0.17-0.35 s per empty
        # task before the zip-directory guard in dsm2dtm_spark/__init__.py,
        # 0.07-0.1 s after). Big jobs are unaffected: the 4×cores term
        # governs as soon as tiles ≥ 4×cores (guide §2).
        n_parts = max(min(n_parts, n_tiles_hint), N_SALT)
    # repartition FIRST, attach the broadcast stats on the reduce side (r7):
    # with the join below the exchange, the stats broadcast build sat in the
    # same stage as the emit map — pass 1's decode serialized ahead of
    # pass 2 even when halo_px came from metadata. Probe-side-after-shuffle
    # lets AQE build the stats broadcast CONCURRENTLY with the emit/shuffle
    # map stage; the join adds the same scalar columns to the same rows
    # (equi-join on image_id, partitioning keys untouched), and the shuffle
    # now moves tile payloads without the duplicated per-tile stats scalars.
    shuffled = tiles.repartition(n_parts, *keys).join(
        F.broadcast(stats), on="image_id", how="inner"
    )

    out_schema = StructType(
        [f for f in TILE_SCHEMA.fields if f.name not in ("payload", "salt", "cut_y", "cut_x", "cut_h", "cut_w")]
        + [
            StructField("core_bytes", BinaryType()),
            # per-tile lineage/throughput (north_rule): which task computed
            # this tile and how long the kernel stack took
            StructField("wall_ms", DoubleType()),
            StructField("partition_id", IntegerType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import time

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        for pdf in batches:
            out = {k: [] for k in out_schema.fieldNames()}
            for row in pdf.itertuples(index=False):
                t0 = time.perf_counter()
                # zero-copy over the inflated buffer: pmf/refine/smooth never
                # write to their input (they build a min-filled working
                # copy), so the read-only array is safe to hand them directly
                cut = codecs.decode_zf32(row.payload, int(row.cut_h), int(row.cut_w))
                mn = None if np.isnan(row.min_valid) else float(row.min_valid)
                ground = golden.pmf(
                    cut, NODATA_DEFAULT, int(row.init_window), int(row.max_window),
                    float(row.slope_used) * float(row.cell_size),
                    init_threshold, max_threshold, min_fill=mn,
                )
                ground = golden.refine(ground, NODATA_DEFAULT, float(row.refine_sigma), min_fill=mn)
                ground = golden.final_smooth(ground, NODATA_DEFAULT, float(row.final_sigma), min_fill=mn)
                dtm = golden.gap_fill(ground, NODATA_DEFAULT, float(row.gap_dist_px))
                oy = int(row.core_y) - int(row.cut_y)
                ox = int(row.core_x) - int(row.cut_x)
                core = dtm[oy : oy + int(row.core_h), ox : ox + int(row.core_w)]
                out["image_id"].append(row.image_id)
                out["tile_row"].append(int(row.tile_row))
                out["tile_col"].append(int(row.tile_col))
                out["cell_id"].append(int(row.cell_id))
                out["core_y"].append(int(row.core_y))
                out["core_x"].append(int(row.core_x))
                out["core_h"].append(int(row.core_h))
                out["core_w"].append(int(row.core_w))
                out["fmt"].append(row.fmt)
                out["caption"].append(row.caption)
                out["img_h"].append(int(row.img_h))
                out["img_w"].append(int(row.img_w))
                out["core_bytes"].append(codecs.encode_zf32(core))
                out["wall_ms"].append((time.perf_counter() - t0) * 1000.0)
                out["partition_id"].append(pid)
            yield pd.DataFrame(out)

    return shuffled.mapInPandas(run, out_schema)


def tiled_lineage_metrics(processed: DataFrame) -> DataFrame:
    """Per-partition lineage/throughput over processed TILE rows (north_rule
    metrics, the tiled twin of plans.lineage_metrics): which tasks computed
    how many tiles/pixels and at what rate."""
    px = F.col("core_h").cast("long") * F.col("core_w").cast("long")
    return processed.groupBy("partition_id").agg(
        F.count("*").alias("n_tiles"),
        F.sum(px).alias("pixels"),
        F.round(F.sum("wall_ms") / 1000.0, 3).alias("compute_sec"),
        F.round(F.sum(px) / F.sum("wall_ms") / 1000.0, 3).alias("mpix_per_sec"),
    )


STITCHED_SCHEMA = StructType(
    [
        StructField("image_id", StringType()),
        StructField("bytes", BinaryType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("fmt", StringType()),
        StructField("caption", StringType()),
        # lineage/throughput carried from the tile stage (north_rule):
        # tiles assembled, summed kernel time, and the stitch task's id
        StructField("n_tiles", LongType()),
        StructField("compute_ms", DoubleType()),
        StructField("partition_id", IntegerType()),
    ]
)


def stitch(processed: DataFrame, n_images_hint: int | None = None) -> DataFrame:
    """Pass 4: reassemble core regions per image and re-encode in the row's
    original codec — the window-based seam merge (cores partition the image,
    so priority resolution is trivial; overlap auditing lives in the
    assignment table)."""

    def assemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
        from pyspark import TaskContext

        h = int(pdf.img_h.iloc[0])
        w = int(pdf.img_w.iloc[0])
        canvas = np.full((h, w), NODATA_DEFAULT, dtype=np.float32)
        for row in pdf.itertuples(index=False):
            # zero-copy over the inflated buffer: only read into the canvas
            core = codecs.decode_zf32(bytes(row.core_bytes), int(row.core_h), int(row.core_w))
            canvas[row.core_y : row.core_y + row.core_h, row.core_x : row.core_x + row.core_w] = core
        fmt = pdf.fmt.iloc[0]
        return pd.DataFrame(
            {
                "image_id": [key[0]],
                "bytes": [codecs.encode(canvas, fmt)],
                "w": [w],
                "h": [h],
                "fmt": [fmt],
                "caption": [pdf.caption.iloc[0]],
                "n_tiles": [int(len(pdf))],
                "compute_ms": [float(pdf.wall_ms.sum())],
                "partition_id": [TaskContext.get().partitionId() if TaskContext.get() else -1],
            }
        )

    # pre-partition on the grouping key with an EXPLICIT count: the groupBy
    # reuses this hash partitioning (no second exchange), and — unlike the
    # AQE-sized exchange the groupBy would otherwise insert — it can't be
    # byte-coalesced below the core count (assembly cost is rows, not bytes)
    n_parts = max(4 * processed.sparkSession.sparkContext.defaultParallelism, 1)
    if n_images_hint is not None:
        # one partition per image is the assembly-parallelism ceiling —
        # surplus partitions are empty applyInPandas tasks (same per-task
        # python cost as process_tiles; 124 of 128 tasks were empty on the
        # 4-image bench table)
        n_parts = max(min(n_parts, n_images_hint), 1)
    processed = processed.repartition(n_parts, "image_id")
    return processed.groupBy("image_id").applyInPandas(assemble, STITCHED_SCHEMA)


def tiled_dtm_transform(
    images: DataFrame,
    tile_px: int = 1024,
    radius_m: float | None = None,
    slope: float | None = None,
    cell_res: int = DEFAULT_CELL_RES,
    init_threshold: float = PMF_INIT_THRESHOLD,
    max_threshold: float = PMF_MAX_THRESHOLD,
    route_coarse: bool = True,
    permissive: bool = False,
    chunked: bool = True,
    output: str = "image",
) -> DataFrame:
    """Full tiled plan: stats → tiles → salted shuffle → process → stitch.

    ``chunked`` (default True) runs BOTH whole-image passes with bounded
    memory (streamed pass-1 stats + sliding-window tile cutting), so rasters
    far beyond a task's decode budget flow through; results stay
    bit-identical, and locally it also measures faster than whole-image
    decode (zero-copy row windows, less allocator churn). Codecs without a
    streaming source (qz8) and sub-0.5 m rows fall back per-row.
    ``output='tiles'`` skips the stitch and returns the processed core tiles
    as rows — at 10-gigapixel scale the stitched image row itself would be
    the memory hazard, and real pipelines keep the tiled layout anyway.

    Coarse-path rows (cell_size < 0.9·0.45 m) resample with whole-image
    endpoint-aligned coordinates and cannot be tiled exactly; with
    ``route_coarse`` they are split off by a metadata predicate and run
    through the whole-image plan inside the same job, so a mixed-resolution
    table processes end-to-end in one call. Outputs stay bit-exact on both
    branches (the union is by name on the common stitched schema).

    ``permissive=True``: poison payloads don't kill the job — pass 1
    quarantines them (see ``image_stats``) and they come back as rows with
    null ``bytes`` and the exception in an extra ``error`` column (null for
    clean rows; the whole-image branch quarantines the same way). At 10^12
    rows a corrupt raster is a certainty, not an edge case."""
    # explicit param validation (was incidental: the coarse union branch
    # always called dtm_transform → validate_job_params even with zero
    # coarse rows; the r7 empty-branch skip would otherwise lose the
    # fail-fast on e.g. a negative radius)
    from dsm2dtm_spark.params import DEFAULT_RADIUS_M as _DEF_R

    golden.validate_job_params(radius_m if radius_m is not None else _DEF_R, slope)
    if output == "tiles" and (permissive or route_coarse):
        # checked up front (before the zero-coarse-rows fast path can clear
        # route_coarse): the API contract is about what the CALLER composed
        raise ValueError("output='tiles' composes with permissive/route_coarse at the caller")
    cell_size = F.greatest(
        (F.abs(F.col("xres_m")) + F.abs(F.col("yres_m"))) / 2.0, F.lit(0.001)
    )
    # coalesce: under ANSI three-valued logic a NULL xres_m/yres_m fails
    # BOTH filter(p) and filter(~p) and the row silently vanishes; route
    # NULL-metadata rows down the standard branch, where pass 1 either
    # processes or (permissive) quarantines them
    is_coarse = F.coalesce(cell_size < MIN_PROCESS_RES_M * 0.9, F.lit(False))
    if not route_coarse:
        is_coarse = F.lit(False)
    # ONE metadata-only action (KB-scale pruned scan, no payload bytes)
    # sizes the explicit exchanges to the DATA instead of to 4×cores alone
    # (guide §2: scale-adaptive partitioning): tile and image counts cap the
    # process/stitch partition counts (empty python tasks are not free), and
    # a zero coarse-row count proves the coarse union contributes nothing —
    # skipping it removes 3×cores ALWAYS-EMPTY whole-image python tasks per
    # run on all-standard tables (the common case; results are identical, an
    # empty branch computes nothing).
    tcount = F.ceil(F.col("h") / F.lit(tile_px)) * F.ceil(F.col("w") / F.lit(tile_px))
    m = images.select(is_coarse.alias("_c"), tcount.alias("_t")).agg(
        F.coalesce(F.sum(F.when(~F.col("_c"), F.col("_t"))), F.lit(0)).alias("n_tiles"),
        F.coalesce(F.sum(F.when(~F.col("_c"), 1)), F.lit(0)).alias("n_images"),
        F.coalesce(F.sum(F.when(F.col("_c"), 1)), F.lit(0)).alias("n_coarse"),
    ).first()
    n_tiles_hint, n_images_hint = int(m.n_tiles), int(m.n_images)
    if route_coarse and int(m.n_coarse) == 0:
        route_coarse = False
    if route_coarse:
        coarse_rows = images.filter(is_coarse)
        images = images.filter(~is_coarse)
    # big rows pack few per input split (maxPartitionBytes), capping pass-1/2
    # parallelism far below the cluster (48×16 MB rows → ~12 tasks on 32
    # cores); compute ≫ scan here exactly like dtm_transform. The
    # UN-repartitioned frame is kept for the metadata/stats side subtrees:
    # hanging them off the round-robin exchange instead would clone it once
    # per distinct pruned projection (3 shuffles of the payload bytes,
    # measured as three back-to-back 64-task stages — guide §2.4)
    images_raw = images
    images = ensure_min_partitions(images, mult=2)
    if permissive:
        # quarantine mode: pass 1 is the single decode point that decides
        # which rows are poison, so it must gate the tile stages (emit may
        # only ever decode error-free rows) AND feed the quarantine join —
        # materialize the KB-scale stats rows once so the decode runs once
        stats = image_stats(images, radius_m, slope, chunked=chunked, permissive=True)
        stats = stats.localCheckpoint(eager=True)
        good_stats = stats.filter(F.col("error").isNull())
        halo_src = good_stats.select("image_id", "halo_px")
    else:
        # fast path (r7): the tile cut needs only halo_px, which is pure
        # metadata (halo_from_metadata) — so the decode-everything stats
        # pass is no longer a serial prerequisite of pass 2. It becomes the
        # build side of process_tiles' broadcast join (its single consumer:
        # no checkpoint needed, the subtree executes once) and AQE
        # materializes that broadcast stage concurrently with the
        # emit→shuffle map stage. Outputs are bit-identical: same halo, same
        # stats, same per-tile kernels.
        # both side subtrees read the RAW scan: the halo pass prunes to a
        # KB-scale metadata scan (no payload bytes read — parquet column
        # pruning), and the stats pass decodes straight off the file splits
        # (its parallelism ceiling is the image count anyway; only the
        # pixel-kernel pass 3 needs the round-robin spread)
        stats = image_stats(images_raw, radius_m, slope, chunked=chunked, permissive=False)
        good_stats = stats
        halo_src = halo_from_metadata(images_raw, radius_m)
    tiles = emit_tiles(
        images.join(F.broadcast(halo_src), on="image_id", how="inner"),
        tile_px,
        cell_res,
        chunked=chunked,
    )
    processed = process_tiles(
        tiles,
        good_stats,
        init_threshold=init_threshold,
        max_threshold=max_threshold,
        n_tiles_hint=n_tiles_hint,
    )
    if output == "tiles":
        return processed
    out = stitch(processed, n_images_hint=n_images_hint)
    if permissive:
        out = out.withColumn("error", F.lit(None).cast("string"))
        quarantined = images.join(
            stats.filter(F.col("error").isNotNull()).select("image_id", "error"), on="image_id"
        ).select(
            "image_id",
            F.lit(None).cast("binary").alias("bytes"),
            "w",
            "h",
            "fmt",
            "caption",
            F.lit(None).cast("long").alias("n_tiles"),
            F.lit(None).cast("double").alias("compute_ms"),
            F.lit(None).cast("int").alias("partition_id"),
            "error",
        )
        out = out.unionByName(quarantined)
    if route_coarse:
        from dsm2dtm_spark.plans import dtm_transform

        coarse_out = dtm_transform(
            coarse_rows,
            radius_m=radius_m,
            slope=slope,
            init_threshold=init_threshold,
            max_threshold=max_threshold,
            permissive=permissive,
        ).select(
            "image_id",
            "bytes",
            "w",
            "h",
            "fmt",
            "caption",
            # coarse rows are whole-image by construction: one "tile",
            # wall_ms from the whole-image UDF, that task's partition id
            F.lit(1).cast("long").alias("n_tiles"),
            F.col("wall_ms").alias("compute_ms"),
            "partition_id",
            *(["error"] if permissive else []),
        )
        out = out.unionByName(coarse_out)
    return out


def tile_assignments(images: DataFrame, tile_px: int, cell_res: int = DEFAULT_CELL_RES) -> DataFrame:
    """The deterministic tile-to-cell assignment table (north_rule: 'identical
    tile-to-cell assignments'), as a pure DataFrame computation — no pixel
    payloads, SQL-oracle-checkable (explode a tile-index sequence, then the
    shared cell_encode_sql arithmetic)."""
    n_rows = F.ceil(F.col("h") / F.lit(tile_px)).cast("int")
    n_cols = F.ceil(F.col("w") / F.lit(tile_px)).cast("int")
    df = (
        images.select("image_id", "h", "w", "lon0", "lat0", "xres_m", "yres_m")
        .withColumn("tile_row", F.explode(F.sequence(F.lit(0), n_rows - 1)))
        .withColumn("tile_col", F.explode(F.sequence(F.lit(0), n_cols - 1)))
    )
    core_h = F.least(F.lit(tile_px), F.col("h") - F.col("tile_row") * tile_px)
    core_w = F.least(F.lit(tile_px), F.col("w") - F.col("tile_col") * tile_px)
    cy = F.col("tile_row") * tile_px + core_h / 2.0
    cx = F.col("tile_col") * tile_px + core_w / 2.0
    lat_c = F.col("lat0") - (cy * F.col("yres_m")) / M_PER_DEG_LAT
    scale = F.lit(1.0) - F.lit(LON_SCALE_C2) * F.col("lat0") * F.col("lat0")
    lon_c = F.col("lon0") + (cx * F.col("xres_m")) / (M_PER_DEG_LON_EQ * scale)
    return df.select(
        "image_id",
        "tile_row",
        "tile_col",
        cellindex.cell_expr(lon_c, lat_c, cell_res).alias("cell_id"),
    )
