"""Distributed validation plan: engine output vs golden reference table."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from dsm2dtm_spark import codecs, golden, synth
from dsm2dtm_spark.params import NODATA_DEFAULT
from dsm2dtm_spark.plans import dtm_transform
from dsm2dtm_spark.plans.validate import validate_against, validation_summary


@pytest.fixture(scope="module")
def tables(spark):
    pdf = synth.image_table(16, seed=55, sizes=(50, 64))
    sdf = spark.createDataFrame(pdf.drop(columns=["scenario"]))
    result = dtm_transform(sdf, radius_m=40.0).select("image_id", "bytes", "w", "h", "fmt", "caption")
    # golden reference encoded in raw_f32 (always-lossless baseline)
    rows = []
    for r in pdf.itertuples(index=False):
        grid = codecs.decode(r.bytes, r.h, r.w, r.fmt)
        dtm = golden.dsm_to_dtm(grid, (r.xres_m, r.yres_m), radius_m=40.0)
        rows.append({"image_id": r.image_id, "bytes": codecs.encode_raw_f32(dtm), "w": r.w, "h": r.h,
                     "fmt": "raw_f32", "caption": r.caption})
    reference = spark.createDataFrame(pd.DataFrame(rows))
    return result, reference, pdf


def test_engine_output_validates_against_golden(spark, tables):
    result, reference, pdf = tables
    # engine re-encodes in the row codec: png16/qz8 rows are quantized vs the
    # raw_f32 golden, so judge them on the PSNR branch
    v = validate_against(result, reference, psnr_floor_db=40.0, lossless_atol=1e-6)
    rows = v.collect()
    assert len(rows) == len(pdf)
    bad = [r for r in rows if not r.passes]
    assert bad == [], bad
    s = validation_summary(v).collect()[0]
    assert s.n_failing == 0 and s.n_rows == len(pdf)


def test_validation_catches_corruption(spark, tables):
    result, reference, pdf = tables
    # corrupt one caption and one payload
    from pyspark.sql import functions as F

    corrupted = result.withColumn(
        "caption", F.when(F.col("image_id") == pdf.image_id.iloc[0], F.lit("WRONG")).otherwise(F.col("caption"))
    )
    v = validate_against(corrupted, reference).collect()
    failing = {r.image_id for r in v if not r.passes}
    assert pdf.image_id.iloc[0] in failing


def test_dims_mismatch_fails_without_raising(spark, tables):
    """Each side decodes with its own dims: a raw_f32 result cut by its last
    scanline must not validate against the reference prefix, and a result
    larger than its reference must fail its row, not the job."""
    _, reference, _ = tables
    r0, r1 = reference.orderBy("image_id").limit(2).collect()
    g0 = codecs.decode(bytes(r0.bytes), r0.h, r0.w, r0.fmt)
    g1 = codecs.decode(bytes(r1.bytes), r1.h, r1.w, r1.fmt)
    bad = pd.DataFrame(
        [
            {"image_id": r0.image_id, "bytes": codecs.encode_raw_f32(g0[:-1]), "w": r0.w, "h": r0.h - 1,
             "fmt": "raw_f32", "caption": r0.caption},
            {"image_id": r1.image_id, "bytes": codecs.encode_raw_f32(np.vstack([g1, g1[-1:]])), "w": r1.w,
             "h": r1.h + 1, "fmt": "raw_f32", "caption": r1.caption},
        ]
    )
    v = {r.image_id: r for r in validate_against(spark.createDataFrame(bad), reference).collect()}
    for r in (r0, r1):
        got = v[r.image_id]
        assert not got.passes and not got.mask_equal and got.caption_equal
        assert got.max_abs_diff is None and got.psnr_db is None
    s = validation_summary(validate_against(spark.createDataFrame(bad), reference)).collect()[0]
    assert s.n_rows == 2 and s.n_failing == 2
