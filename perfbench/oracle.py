"""Output checks: each workload's results against an independent reference.

- DTM rows: the golden single-node pipeline on the decoded input
  (bit-exact for lossless codecs, PSNR >= 40 dB for ``qz8``);
- spatial join: even-odd ray casting in numpy over every center;
- kNN join: brute-force distances, ties broken on point id;
- incremental dedup: exact character-3-gram Jaccard over the corpus.
"""

from __future__ import annotations

import hashlib

import numpy as np

from harness import patched

QZ8_MIN_PSNR_DB = 40.0


def kernel_targets():
    from dsm2dtm_spark import golden

    return [
        (golden, "dsm_to_dtm", "kernels.dsm_to_dtm"),
        (golden, "grey_opening_square", "kernels.opening"),
        (golden, "gaussian_filter2d", "kernels.gaussian"),
        (golden, "nearest_valid", "kernels.edt"),
        (golden, "fill_nearest", "kernels.edt_fill"),
    ]


def kernel_layers(pixels: int, outer_t: dict, n: int) -> dict:
    """kernels.* per traced pass (``n`` of them) from the spans around the
    driver-side golden oracle: single-threaded, on ``pixels`` pixels of the
    workload's own grids."""
    n = max(n, 1)
    dtm_s = outer_t.get("kernels.dsm_to_dtm", 0.0)
    px = pixels
    return {
        "kernels.dsm_to_dtm_s": dtm_s / n,
        "kernels.opening_s": outer_t.get("kernels.opening", 0.0) / n,
        "kernels.gaussian_s": outer_t.get("kernels.gaussian", 0.0) / n,
        "kernels.edt_s": (outer_t.get("kernels.edt", 0.0) + outer_t.get("kernels.edt_fill", 0.0)) / n,
        "kernels.mpix_per_s": px / 1e6 / dtm_s if dtm_s else None,
    }


def golden_dtm(grid: np.ndarray, xres: float, yres: float, radius_m: float, tracer=None) -> np.ndarray:
    from dsm2dtm_spark import golden

    with patched(tracer, kernel_targets()):
        return golden.dsm_to_dtm(grid, (float(xres), float(yres)), radius_m=radius_m)


def compare_grid(image_id: str, want: np.ndarray, got: np.ndarray, fmt: str) -> str | None:
    from dsm2dtm_spark import codecs

    if got.shape != want.shape:
        return f"{image_id}: shape {got.shape} != golden {want.shape}"
    if codecs.is_lossless(fmt):
        if not np.array_equal(got, want):
            n = int(np.sum(got != want))
            return f"{image_id} ({fmt}): {n} pixels differ from golden"
        return None
    psnr = codecs.psnr(want, got)
    if not psnr >= QZ8_MIN_PSNR_DB:
        return f"{image_id} ({fmt}): PSNR {psnr:.2f} dB < {QZ8_MIN_PSNR_DB} vs golden"
    return None


def check_dtm_rows(src, out, radius_m: float, tracer=None) -> str | None:
    """One whole-image DTM output row vs golden on its input row."""
    from dsm2dtm_spark import codecs

    grid = codecs.decode(src.bytes, int(src.h), int(src.w), src.fmt)
    want = golden_dtm(grid, src.xres_m, src.yres_m, radius_m, tracer)
    got = codecs.decode(out.bytes, int(out.h), int(out.w), out.fmt)
    # the engine re-encodes in the input codec; compare in the codec domain
    want_c = codecs.decode(codecs.encode(want, src.fmt), want.shape[0], want.shape[1], src.fmt)
    ref = want_c if codecs.is_lossless(src.fmt) else want
    return compare_grid(src.image_id, ref, got, src.fmt)


# ------------------------------------------------------------- vector joins


def pip_even_odd(xs, ys, px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """Even-odd ray casting of points (px, py) against one closed polygon."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    inside = np.zeros(len(px), dtype=bool)
    j = len(xs) - 1
    with np.errstate(divide="ignore", invalid="ignore"):
        for i in range(len(xs)):
            crosses = (ys[i] > py) != (ys[j] > py)
            x_at = (xs[j] - xs[i]) * (py - ys[i]) / (ys[j] - ys[i]) + xs[i]
            inside ^= crosses & (px < x_at)
            j = i
    return inside


def spatial_join_pairs(footprints, centers) -> set:
    """{(footprint_id, image_id, tile_row, tile_col)} by brute force."""
    lon = centers["lon_c"].to_numpy(np.float64)
    lat = centers["lat_c"].to_numpy(np.float64)
    ids = list(zip(centers["image_id"], centers["tile_row"], centers["tile_col"]))
    out = set()
    for fp in footprints.itertuples(index=False):
        box = (lon >= fp.x0) & (lon <= fp.x1) & (lat >= fp.y0) & (lat <= fp.y1)
        idx = np.flatnonzero(box)
        hit = idx[pip_even_odd(fp.xs, fp.ys, lon[idx], lat[idx])]
        out.update((fp.footprint_id, *ids[j]) for j in hit)
    return out


def knn_topk(queries, points, k: int) -> dict:
    """query_id -> [(point_id, dist)] for the k nearest, ties on point_id."""
    px = points["x"].to_numpy(np.float64)
    py = points["y"].to_numpy(np.float64)
    pid = points["point_id"].to_numpy()
    pid_rank = np.argsort(np.argsort(pid, kind="stable"), kind="stable")
    out = {}
    for q in queries.itertuples(index=False):
        d = np.sqrt((q.x - px) * (q.x - px) + (q.y - py) * (q.y - py))
        order = np.lexsort((pid_rank, d))[:k]
        out[q.query_id] = [(pid[j], float(d[j])) for j in order]
    return out


# ------------------------------------------------------------------- dedup


def fingerprint(text: str) -> str:
    return hashlib.md5(text.encode("utf-8")).hexdigest()


def grams(text: str, n: int = 3) -> set:
    """Distinct lower-cased character n-grams; a text shorter than n is one gram."""
    t = text.lower()
    return {t[i : i + n] for i in range(max(len(t) - n + 1, 1))}


class JaccardIndex:
    """Exact Jaccard of a document against every indexed one, as a dense
    document x gram matrix product (character 3-grams are few)."""

    def __init__(self):
        self.vocab: dict[str, int] = {}
        self.rows: list[np.ndarray] = []
        self._mat = None

    def _ids(self, text: str) -> np.ndarray:
        return np.array([self.vocab.setdefault(g, len(self.vocab)) for g in grams(text)], dtype=np.int64)

    def add(self, texts) -> None:
        self.rows.extend(self._ids(t) for t in texts)
        self._mat = None

    def _matrix(self) -> np.ndarray:
        if self._mat is None or self._mat.shape[1] < len(self.vocab):
            m = np.zeros((len(self.rows), len(self.vocab)), dtype=np.float32)
            for r, ids in enumerate(self.rows):
                m[r, ids] = 1.0
            self._mat = m
        return self._mat

    def max_jaccard(self, texts) -> np.ndarray:
        qs = [self._ids(t) for t in texts]
        m = self._matrix()
        q = np.zeros((len(qs), m.shape[1]), dtype=np.float32)
        for r, ids in enumerate(qs):
            q[r, ids[ids < m.shape[1]]] = 1.0
        inter = q @ m.T
        sizes_q = np.array([len(ids) for ids in qs], dtype=np.float32)[:, None]
        sizes_c = m.sum(axis=1)[None, :]
        jac = inter / (sizes_q + sizes_c - inter)
        return jac.max(axis=1) if jac.shape[1] else np.zeros(len(qs))
