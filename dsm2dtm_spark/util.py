"""Small shared DataFrame utilities."""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

# input columns a quarantine row carries over (where the output has them too)
IDENTITY_COLUMNS = ("image_id", "w", "h", "fmt", "caption")
# output columns map_rows fills itself, whenever the schema declares them
LINEAGE_COLUMNS = ("wall_ms", "partition_id", "error")


def ensure_min_partitions(df: DataFrame, min_partitions: int | None = None, mult: int = 2) -> DataFrame:
    """Repartition an encoded-image input UP when the scan yields fewer than
    ``min_partitions`` (default ``mult × defaultParallelism``) partitions.

    Pixel compute is orders of magnitude heavier per byte than the scan, so a
    low-partition input (one fat parquet file; big rows packing few per input
    split) would serialize the whole job behind a handful of tasks — the byte
    shuffle is cheap insurance against idle executors. Shared by the
    whole-image plan, the tiled plan, and the terrain operators so the guard
    evolves in one place.
    """
    if min_partitions is None:
        min_partitions = mult * df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min_partitions:
        df = df.repartition(min_partitions)
    return df


def map_rows(
    df: DataFrame,
    fn: Callable[[tuple], dict | list[dict] | pd.DataFrame | None],
    schema: StructType | str,
    permissive: bool = False,
) -> DataFrame:
    """The engine's one per-row ``mapInPandas`` loop: ``fn(row)`` runs on each
    ``itertuples`` row of every Arrow batch and returns ``None`` (no output),
    a dict (one row), or a list of dicts / a ``pd.DataFrame`` (many rows —
    vectorized emitters return frames, never per-cell dicts). Each batch
    yields one frame with exactly ``schema``'s columns in schema order, empty
    batches included.

    Lineage columns are filled here whenever ``schema`` declares them:
    ``wall_ms`` times ``fn(row)``, ``partition_id`` is the task's partition,
    ``error`` is null on success. ``permissive=False`` re-raises; with
    ``permissive=True`` a row whose ``fn`` raises becomes one quarantine row
    carrying the IDENTITY_COLUMNS both sides have, the lineage, and
    ``error = "Type: message"[:500]``; every other column is null. At 10^12
    rows a poison payload is a certainty, not an edge case."""
    names = (schema if isinstance(schema, StructType) else StructType.fromDDL(schema)).fieldNames()
    lineage = [c for c in LINEAGE_COLUMNS if c in names]
    identity = [c for c in IDENTITY_COLUMNS if c in names and c in df.columns]

    def frame(rows: list[dict]) -> pd.DataFrame:
        cols = {}
        for c in names:
            vals = [r.get(c) for r in rows]
            # pandas would carry a null-bearing integer column through
            # float64 and round 64-bit values (phash); object keeps them exact
            cols[c] = pd.Series(vals, dtype=object) if any(v is None for v in vals) else vals
        return pd.DataFrame(cols)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else -1
        for pdf in batches:
            frames, rows = [], []
            for row in pdf.itertuples(index=False):
                t0 = time.perf_counter()
                error = None
                try:
                    res = fn(row)
                except Exception as exc:  # noqa: BLE001 — quarantined, not swallowed
                    if not permissive:
                        raise
                    res = {c: getattr(row, c) for c in identity}
                    error = f"{type(exc).__name__}: {exc}"[:500]
                tags = {"wall_ms": (time.perf_counter() - t0) * 1000.0, "partition_id": pid, "error": error}
                tags = {c: tags[c] for c in lineage}
                if isinstance(res, pd.DataFrame):
                    if rows:  # keep row order: flush the dict rows seen so far
                        frames.append(frame(rows))
                        rows = []
                    frames.append(res.assign(**tags))
                elif res is not None:
                    rows.extend(r | tags for r in ([res] if isinstance(res, dict) else res))
            if rows or not frames:
                frames.append(frame(rows))
            out = frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
            yield out if list(out.columns) == names else out[names]

    run.__name__ = fn.__name__  # physical plans label the MapInPandas node with it
    return df.mapInPandas(run, schema)
