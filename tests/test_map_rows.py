"""util.map_rows: the engine's one per-row mapInPandas loop — output frame
shape, row order across dict/list/frame results, lineage, and 64-bit exact
integer columns next to nulls."""

from __future__ import annotations

import pandas as pd
import pytest

from dsm2dtm_spark.util import map_rows

BIG = 2**62 + 1  # not representable in float64


@pytest.fixture(scope="module")
def ids(spark):
    return spark.createDataFrame(pd.DataFrame({"image_id": [f"r{k}" for k in range(6)], "k": range(6)})).coalesce(1)


def test_mixed_results_keep_row_order_and_schema_order(ids):
    def fn(row):
        if row.k == 0:
            return None
        if row.k == 1:
            return {"n": BIG, "image_id": row.image_id}  # key order is irrelevant
        if row.k == 2:
            return [{"image_id": row.image_id, "n": None}, {"image_id": row.image_id, "n": -BIG}]
        if row.k == 3:
            return pd.DataFrame({"image_id": [row.image_id] * 2, "n": [7, 8]})
        return {"image_id": row.image_id, "n": row.k}

    out = map_rows(ids, fn, "image_id string, n long").collect()
    assert [tuple(r) for r in out] == [
        ("r1", BIG), ("r2", None), ("r2", -BIG), ("r3", 7), ("r3", 8), ("r4", 4), ("r5", 5)
    ]


def test_empty_output_and_lineage(ids):
    schema = "image_id string, n long, wall_ms double, partition_id int, error string"
    assert map_rows(ids, lambda row: None, schema).collect() == []
    rows = map_rows(ids, lambda row: {"image_id": row.image_id, "n": row.k}, schema).collect()
    assert [r.n for r in rows] == list(range(6))
    assert all(r.wall_ms >= 0 and r.partition_id == 0 and r.error is None for r in rows)


def test_permissive_quarantines_and_strict_raises(ids):
    def fn(row):
        if row.k == 3:
            raise ValueError("poison " + "x" * 600)
        return {"image_id": row.image_id, "n": BIG}

    schema = "image_id string, n long, error string"
    with pytest.raises(Exception, match="poison"):
        map_rows(ids, fn, schema).collect()
    rows = map_rows(ids, fn, schema, permissive=True).collect()
    assert [(r.image_id, r.n) for r in rows] == [(f"r{k}", None if k == 3 else BIG) for k in range(6)]
    bad = rows[3]
    assert bad.error.startswith("ValueError: poison") and len(bad.error) == 500
