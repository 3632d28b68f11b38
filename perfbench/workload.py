"""The interface every benchmark workload implements, and its pass record."""

from __future__ import annotations

import os
import shutil
import statistics
from dataclasses import dataclass, field

from harness import Tracer


@dataclass
class PassResult:
    """One measured pass: the engine calls' wall time and process-tree CPU
    time, rows attempted and rows failed (quarantined or wrong), the work
    units done, and a note for every mismatch found by the output check
    (which runs after the timer)."""

    wall_s: float
    cpu_s: float
    attempted: int
    failed: int = 0
    work: dict = field(default_factory=dict)
    mismatches: list = field(default_factory=list)
    traced: bool = False


class Workload:
    """A named, seeded input set plus the engine calls one pass makes.

    ``prepare`` builds the inputs from the seed, ``warmup`` pushes a small
    input through the same plans,
    ``run_pass`` times one pass and checks its outputs, and ``layer_probes``
    adds the traced run's workload-specific layer figures."""

    why = ""
    params: dict = {}
    # the ``throughput`` entry reported as the end-to-end ``units_per_s``
    units = ""

    def __init__(self, seed: int, workdir: str):
        self.seed = seed
        self.workdir = workdir
        self.layers: dict = {}
        self.absent: dict = {}

    def fresh_dir(self, *parts: str) -> str:
        path = os.path.join(self.workdir, *parts)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def prepare(self, spark, round_dir: str) -> None:
        raise NotImplementedError

    def warmup(self, spark) -> None:
        raise NotImplementedError

    def run_pass(self, spark, i: int, tracer: Tracer | None) -> PassResult:
        """One pass: its engine calls inside ``harness.engine_calls``, then
        the output check. ``tracer`` is set on traced passes only."""
        raise NotImplementedError

    def layer_probes(self, spark, tracer: Tracer) -> list[str]:
        """Traced run only, before the session stops: extra driver-side
        probes that fill ``self.layers`` (and ``self.absent``). Returns the
        mismatch notes of probes that check engine outputs."""
        return []

    def layer_metrics(self, traced: list[PassResult], self_t: dict, outer_t: dict, plan: dict) -> dict:
        """Traced run only: workload-specific layer figures per traced pass,
        from the pass records, the span self/outer times and the per-pass
        plan-metric totals in ``plan``."""
        return dict(self.layers)

    def throughput(self, passes: list[PassResult]) -> dict:
        """Named throughput metrics of the pass records (see ``rate``)."""
        raise NotImplementedError


def lineage_work(rows, ms_field: str) -> dict:
    """In-UDF compute from the engine's per-row lineage columns: summed
    milliseconds, and the skew (max over median) of that sum by partition_id."""
    per_part: dict = {}
    for r in rows:
        per_part[r.partition_id] = per_part.get(r.partition_id, 0.0) + (r[ms_field] or 0.0)
    return {
        "compute_s": sum(per_part.values()) / 1e3,
        "partition_skew": max(per_part.values()) / statistics.median(per_part.values()),
    }


def rate(work: list[float], walls: list[float], per_pass_unit: str) -> dict:
    """Median per-pass rate of ``work`` over ``walls``, with its denominator."""
    return {
        "value": statistics.median(n / w for n, w in zip(work, walls)),
        "unit": "1/s",
        "per_pass": statistics.median(work),
        "per_pass_unit": per_pass_unit,
    }


def raster_throughput(tiles: int, pixels: int, passes: list[PassResult]) -> dict:
    walls = [p.wall_s for p in passes]
    return {
        "tiles_per_s": rate([tiles] * len(walls), walls, "tiles"),
        "mpix_per_s": rate([pixels / 1e6] * len(walls), walls, "Mpix"),
    }


def write_parquet(pdf, path: str, row_group_size: int | None = None) -> None:
    """A generated pandas input as one parquet file (no Spark job)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path, row_group_size=row_group_size)
