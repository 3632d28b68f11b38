"""The spatial probe: seeded footprints joined against tile centers with
``spatial_join_tiles``, the tile-to-cell table from ``tile_assignments``,
and ``knn_join`` from seeded queries to image anchors. No raster decode.

It runs once inside the tiled_halo traced run (see ``wl_tiled_halo``), not
as a timed workload of its own."""

from __future__ import annotations

import os
import time

import numpy as np

from harness import maybe_span
from oracle import knn_topk, spatial_join_pairs
from sqlmetrics import walk_plan
from workload import write_parquet

PARAMS = {
    "generators": "synth.footprint_table, synth.knn_query_table, seeded image metadata",
    "images": 400,
    "image_sizes_px": [1024, 2048],
    "image_res_m": [1.0, 2.0],
    "tile_px": 256,
    "footprints": 100,
    "knn_queries": 400,
    "k": 4,
}


def image_metadata(seed: int, n_images: int, sizes: tuple, res_m: tuple):
    """Metadata-only image table: no payloads, anchors spread like synth's."""
    import pandas as pd

    rng = np.random.default_rng(seed)
    size = rng.choice(np.asarray(sizes, dtype=np.int32), n_images)
    res = rng.choice(np.asarray(res_m, dtype=np.float64), n_images)
    return pd.DataFrame({
        "image_id": [f"img_{seed}_{i:06d}" for i in range(n_images)],
        "w": size, "h": size,
        "lon0": 2.0 + rng.uniform(-2.0, 2.0, n_images),
        "lat0": 36.0 + rng.uniform(-2.0, 2.0, n_images),
        "xres_m": res, "yres_m": res,
    })


def tile_centers(images, tile_px: int):
    """Every tile's center through ``tiling.tile_center_lonlat`` (the same
    arithmetic ``tile_assignments`` runs in SQL)."""
    import pandas as pd

    from dsm2dtm_spark.operators.tiling import tile_center_lonlat

    parts = []
    for r in images.itertuples(index=False):
        nr, nc = -(-int(r.h) // tile_px), -(-int(r.w) // tile_px)
        tr, tc = np.divmod(np.arange(nr * nc), nc)
        core_h = np.minimum(tile_px, r.h - tr * tile_px)
        core_w = np.minimum(tile_px, r.w - tc * tile_px)
        lon, lat = tile_center_lonlat(r.lon0, r.lat0, r.xres_m, r.yres_m,
                                      tc * tile_px + core_w / 2.0, tr * tile_px + core_h / 2.0)
        parts.append(pd.DataFrame({
            "image_id": r.image_id, "tile_row": tr.astype(np.int32), "tile_col": tc.astype(np.int32),
            "lon_c": lon, "lat_c": lat,
        }))
    return pd.concat(parts, ignore_index=True)


def _check(joined, cells, knn, want_join: set, want_cells: dict, want_knn: dict) -> list[str]:
    """Mismatch notes of the three engine outputs against their oracles."""
    notes = []
    # join: every (footprint, tile) pair, no more, no fewer
    got = {(r.footprint_id, r.image_id, r.tile_row, r.tile_col) for r in joined}
    extra, missing = got - want_join, want_join - got
    if extra or missing or len(got) != len(joined):
        notes.append(f"spatial join: {len(extra)} extra, {len(missing)} missing, "
                     f"{len(joined) - len(got)} duplicate pairs")
    got_cells = {(r.image_id, r.tile_row, r.tile_col): r.cell_id for r in cells}
    bad_cells = sum(got_cells.get(t) != c for t, c in want_cells.items())
    if bad_cells or len(got_cells) != len(cells) or len(cells) != len(want_cells):
        notes.append(f"tile_assignments: {bad_cells} cell ids differ, {len(cells)} rows for {len(want_cells)} tiles")
    # knn: the k nearest per query, in rank order
    by_q: dict = {}
    for r in knn:
        by_q.setdefault(r.query_id, []).append((r.rank, r.point_id, r.dist))
    bad_q = 0
    for qid, want in want_knn.items():
        rows = sorted(by_q.get(qid, []))
        if [pid for _, pid, _ in rows] != [w[0] for w in want] or [rk for rk, _, _ in rows] != list(
            range(1, len(want) + 1)
        ) or any(abs(d - w[1]) > 1e-12 for (_, _, d), w in zip(rows, want)):
            bad_q += 1
    if bad_q or set(by_q) - set(want_knn):
        notes.append(f"knn_join: {bad_q} queries differ from brute force")
    return notes


def spatial_probe(spark, seed: int, work_dir: str, tracer) -> tuple[dict, list[str]]:
    """Build the seeded inputs, warm the three engine calls up on a slice of
    them, then time each once on the full inputs and check it against
    ``spatial_join_pairs`` / ``knn_topk`` / ``cellindex.encode_cells``.
    Returns the spatial/cellindex layer figures and the mismatch notes.

    ``spatial.candidates`` is read off the executed join plan: the rows the
    PIP UDF evaluated, i.e. what the cell equi-join and bbox pre-filter let
    through."""
    from dsm2dtm_spark import synth
    from dsm2dtm_spark.operators import cellindex, spatial, tiling

    p = PARAMS
    images = image_metadata(seed, p["images"], tuple(p["image_sizes_px"]), tuple(p["image_res_m"]))
    centers = tile_centers(images, p["tile_px"])
    footprints = synth.footprint_table(p["footprints"], seed=seed * 7 + 1)
    queries = synth.knn_query_table(p["knn_queries"], seed=seed * 7 + 2, k=p["k"])
    points = images.rename(columns={"image_id": "point_id", "lon0": "x", "lat0": "y"})[["point_id", "x", "y"]]
    f = {}
    for name, pdf in (("images", images), ("centers", centers), ("footprints", footprints),
                      ("queries", queries[["query_id", "x", "y"]])):
        path = os.path.join(work_dir, f"{name}.parquet")
        write_parquet(pdf, path)
        f[name] = spark.read.parquet(path)
    pts = f["images"].selectExpr("image_id AS point_id", "lon0 AS x", "lat0 AS y")

    # warm-up on a slice, so the timed calls are not the plans' first use
    spatial.spatial_join_tiles(f["footprints"].limit(10), f["centers"].limit(500)).collect()
    spatial.knn_join(f["queries"].limit(20), pts.limit(100), k=p["k"], initial_radius=16).collect()

    join_df = spatial.spatial_join_tiles(f["footprints"], f["centers"])
    with maybe_span(tracer, "operators.spatial.spatial_join_tiles"):
        t0 = time.perf_counter()
        joined = join_df.collect()
        join_s = time.perf_counter() - t0
    with maybe_span(tracer, "operators.tiling.tile_assignments"):
        t0 = time.perf_counter()
        cells = tiling.tile_assignments(f["images"], p["tile_px"]).collect()
        assign_s = time.perf_counter() - t0
    with maybe_span(tracer, "operators.spatial.knn_join"):
        t0 = time.perf_counter()
        knn = spatial.knn_join(f["queries"], pts, k=p["k"]).collect()
        knn_s = time.perf_counter() - t0
    # the collect() ran the Dataset's own QueryExecution: its plan holds the metrics
    candidates = walk_plan(join_df._jdf.queryExecution().executedPlan()).get(("udf_rows", "pip"))

    lon, lat = centers.lon_c.to_numpy(), centers.lat_c.to_numpy()
    reps = 20
    t0 = time.perf_counter()
    for _ in range(reps):
        want_cell_ids = cellindex.encode_cells(lon, lat, tiling.DEFAULT_CELL_RES)
    enc_s = (time.perf_counter() - t0) / reps
    t0 = time.perf_counter()
    n_cells = spatial.with_cover_cells(f["footprints"]).selectExpr("sum(size(cell_ids)) AS n").first().n
    cover_s = time.perf_counter() - t0

    want_cells = dict(zip(zip(centers.image_id, centers.tile_row, centers.tile_col), want_cell_ids.tolist()))
    notes = _check(joined, cells, knn, spatial_join_pairs(footprints, centers), want_cells,
                   knn_topk(queries, points, p["k"]))
    layers = {
        "spatial.join_s": join_s,
        "spatial.tile_centers_per_s": len(centers) / join_s,
        "spatial.knn_s": knn_s,
        "spatial.knn_queries_per_s": len(queries) / knn_s,
        "tiling.assign_s": assign_s,
        "cellindex.encode_mcells_per_s": len(lon) / 1e6 / enc_s,
        "spatial.cover_s": cover_s,
        "spatial.cover_cells": int(n_cells),
        "spatial.candidates": candidates,
        "spatial.pip_hit_ratio": len(joined) / candidates if candidates else None,
    }
    return layers, notes
