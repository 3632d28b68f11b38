"""dsm2dtm_spark — a from-scratch PySpark-native spatial-join + raster-tiling
analytics engine with the query/data-processing capabilities of the reference
``seedlit/dsm2dtm`` (DSM→DTM terrain extraction), re-expressed Spark-first.

Layout
------
- ``kernels``    pure-numpy image kernels (scipy.ndimage-compatible semantics,
                 reimplemented from scratch: sliding min/max, grey opening,
                 separable Gaussian, exact EDT with nearest indices, bilinear zoom)
- ``golden``     single-node DSM→DTM pipeline clone (the per-row invariant surface)
- ``codecs``     raster <-> bytes codecs (raw_f32 / png16 / qz8) + perceptual hash
- ``synth``      deterministic synthetic image+caption / footprint / knn tables
- ``sources``    Iceberg-style snapshot-manifest table layout on parquet
- ``operators``  Spark operators: cell index, tiling+halo, stitch, spatial join,
                 kNN join, dedup (exact/minhash/simhash), text analysis, ANN
- ``plans``      end-to-end Spark jobs (whole-image DTM, tiled DTM, resume)
"""

__version__ = "0.1.0"


def _install_zip_directory_guard() -> None:
    """Stop ``importlib.invalidate_caches()`` from re-reading unchanged zips.

    PySpark calls ``importlib.invalidate_caches()`` at the start of every
    Python task. Before CPython 3.13, ``zipimporter.invalidate_caches``
    re-reads the archive's whole directory on every call, once per importer.
    A PySpark worker holds 16 of them (on ``pyspark.zip``, the py4j zip and
    the spark-core jar), so each task spent 0.1-0.3 s re-reading unchanged
    directories on a 4-core box. The guard re-reads an archive only when its
    (mtime, size, inode) changed since the last read, and otherwise points
    the importer at the shared cached directory. A worker's first guarded
    call per archive still re-reads. 3.13+ already drops the cache lazily,
    so it is left alone there.
    """
    import os
    import sys
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or getattr(reread, "_zip_directory_guard", False):
        return
    read_stamps: dict = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and read_stamps.get(self.archive) == stamp:
            self._files = files
            return
        # stat BEFORE the read: a write racing the read leaves a stale stamp,
        # which only costs one more re-read on the next call
        reread(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            read_stamps[self.archive] = stamp
        else:
            read_stamps.pop(self.archive, None)

    invalidate_caches._zip_directory_guard = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


# installed by the package import, not through spark.python.daemon.module:
# the daemon starts before --py-files are on the path, so a packaged job
# could not import it there; every engine UDF imports this package anyway
_install_zip_directory_guard()
