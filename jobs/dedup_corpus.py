"""spark-submit job: training-corpus deduplication pipeline, end-to-end.

Chains the engine's dedup operators into the standard web-corpus curation
shape (each stage is the scale-safe form — equi-joins and windows only,
never all-pairs):

    scan → quality gate (token/stopword bounds)
         → exact dedup        (md5 fingerprint, min-id wins)
         → MinHash signatures → banded LSH candidates (identical-signature
           collapse + optional hot-bucket cap) → exact Jaccard verify
         → connected components over the verified near-dup pairs
         → keep one doc per cluster (min-id leader)
         → atomic snapshot commit + per-stage survival metrics

    zip -qr engine.zip dsm2dtm_spark
    spark-submit --py-files engine.zip jobs/dedup_corpus.py \
        --input /root/testdata/sf0.01/documents.parquet \
        --output /tmp/dedup_out [--threshold 0.7] [--min-tokens 3] \
        [--bucket-cap 20000] [--cores 4]

Output table columns = input columns; a JSON line with per-stage counts goes
to stdout (the driver-side metrics contract). The commit is atomic (snapshot
manifest), so a crashed run never leaves a half-visible corpus; rerunning
overwrites deterministically (same input → same survivors).
"""

from __future__ import annotations

import argparse
import json


def dedup_pipeline(
    docs,
    threshold: float = 0.7,
    min_tokens: int = 3,
    max_stopword_ratio: float = 0.9,
    bucket_cap: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """documents → (survivors DataFrame, stage-count dict). Pure plan
    construction + the stage counts (each count is one lightweight action;
    the heavy lineage is shared via localCheckpoint of the pair set)."""
    from pyspark.sql import functions as F

    from dsm2dtm_spark.functions.text import quality_features
    from dsm2dtm_spark.operators.dedup import (
        connected_components,
        exact_dedup,
        minhash_near_dups,
    )

    counts = {"input": docs.count()}

    q = quality_features(docs, text_col=text_col)
    kept = q.filter(
        (F.col("n_tokens") >= min_tokens) & (F.col("stopword_ratio") <= max_stopword_ratio)
    ).select(*docs.columns)
    counts["after_quality"] = kept.count()

    kept = exact_dedup(kept, text_col=text_col, id_col=id_col)
    counts["after_exact_dedup"] = kept.count()

    pairs = minhash_near_dups(
        kept, text_col=text_col, id_col=id_col, threshold=threshold, bucket_cap=bucket_cap
    ).localCheckpoint(eager=True)  # CC iterates over it; don't re-verify per round
    counts["near_dup_pairs"] = pairs.count()

    if counts["near_dup_pairs"]:
        touched = (
            pairs.select(F.col("left_id").alias(id_col))
            .unionByName(pairs.select(F.col("right_id").alias(id_col)))
            .distinct()
        )
        labels = connected_components(touched, pairs, id_col=id_col)
        drop = labels.filter(F.col(id_col) != F.col("cluster_id")).select(id_col)
        kept = kept.join(drop, on=id_col, how="left_anti")
    counts["survivors"] = kept.count()
    return kept, counts


def main():
    ap = argparse.ArgumentParser(description="Deduplicate a documents corpus")
    ap.add_argument("--input", required=True, help="documents parquet path or snapshot-table root")
    ap.add_argument("--output", required=True, help="output snapshot-table root")
    ap.add_argument("--threshold", type=float, default=0.7, help="near-dup Jaccard threshold")
    ap.add_argument("--min-tokens", type=int, default=3)
    ap.add_argument("--max-stopword-ratio", type=float, default=0.9)
    ap.add_argument(
        "--bucket-cap",
        type=int,
        default=None,
        help="drop LSH buckets holding more than this many distinct signatures "
        "(skew guard for near-dup floods; exact dups are unaffected)",
    )
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()

    import os

    from dsm2dtm_spark.session import get_spark
    from dsm2dtm_spark.sources import SnapshotTable

    spark = get_spark("dedup-corpus", cores=args.cores)
    if os.path.isdir(os.path.join(args.input, "meta")):
        docs = SnapshotTable(args.input).read(spark)
    else:
        docs = spark.read.parquet(args.input)

    survivors, counts = dedup_pipeline(
        docs,
        threshold=args.threshold,
        min_tokens=args.min_tokens,
        max_stopword_ratio=args.max_stopword_ratio,
        bucket_cap=args.bucket_cap,
    )
    out = SnapshotTable(args.output)
    snap = out.write_dataframe(survivors, summary={"op": "dedup", **counts})
    print(json.dumps({"snapshot": snap.snapshot_id, **counts}))
    spark.stop()


if __name__ == "__main__":
    main()
