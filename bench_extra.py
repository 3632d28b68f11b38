"""Extra measurement harness for the optimization rounds (guide §1.4):
isolates single queries with the noop sink, prints stage-level walls for the
expensive operators, and dumps .explain("formatted") plans. NOT part of the
frozen driver contract (bench.py is); numbers here feed OPTIMIZATION_r07.md.

Usage:
    python bench_extra.py query <name> [n_passes]   # noop-timed single query
    python bench_extra.py explain <name> [outfile]  # formatted plan
    python bench_extra.py incdedup                  # stage walls for docs_incremental_dedup
Env: SPARK_GRAFT_SF_DIR (default data/sf1, as written by
``python scripts/make_sf.py 1``), SPARK_GRAFT_CPUS (default: the cores this
process may run on).
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)


def _sf_dir() -> str:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.join(ROOT, "data", "sf1"))
    if not os.path.isdir(sf_dir):
        raise SystemExit(
            f"sf dir {sf_dir} does not exist: generate it with "
            f"`python scripts/make_sf.py 1 {sf_dir}` or point SPARK_GRAFT_SF_DIR at one"
        )
    return sf_dir


def _spark():
    from dsm2dtm_spark.session import get_spark

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or len(os.sched_getaffinity(0))
    spark = get_spark("bench_extra", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _noop(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def cmd_query(name: str, n_passes: int = 3):
    import __spark_entry__ as entry

    sf_dir = _sf_dir()
    spark = _spark()
    fn = entry.queries()[name]
    walls = []
    for i in range(n_passes):
        spark.sparkContext.setJobDescription(f"{name} pass {i}")
        # time BUILD + EXECUTE (bench.py's exact shape): a query whose
        # construction localCheckpoints triggers AQE stage materialization
        # at plan-build time — timing only the .save() hid multi-second
        # real work for docs_incremental_dedup (r7 honest-measurement fix)
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        walls.append(round(time.time() - t0, 2))
    print({"query": name, "sf_dir": sf_dir, "runs": walls, "min": min(walls)})


def cmd_explain(name: str, outfile: str | None = None):
    import __spark_entry__ as entry

    sf_dir = _sf_dir()
    spark = _spark()
    df = entry.queries()[name](spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    if outfile:
        with open(outfile, "w") as f:
            f.write(plan)
        print(f"wrote {outfile} ({len(plan)} bytes)")
    else:
        print(plan)


def cmd_suite(names: list[str], n_passes: int = 3):
    """Interleaved min-of-N over several queries in ONE session (same
    methodology as bench.py's relational loop)."""
    import json

    import __spark_entry__ as entry

    sf_dir = _sf_dir()
    spark = _spark()
    qs = entry.queries()
    runs: dict[str, list[float]] = {n: [] for n in names}
    for p in range(n_passes):
        for name in names:
            spark.sparkContext.setJobDescription(f"{name} pass {p}")
            t0 = time.time()  # build + execute, like bench.py (see cmd_query)
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs[name].append(round(time.time() - t0, 2))
    print(json.dumps({
        "sf_dir": sf_dir,
        "min": {n: min(r) for n, r in runs.items()},
        "runs": runs,
        "total_min": round(sum(min(r) for r in runs.values()), 2),
    }))


def cmd_incdedup():
    """Stage walls for the docs_incremental_dedup scenario at the bench sf."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from dsm2dtm_spark.operators.incremental import band_buckets, dedup_against, sign_documents

    sf_dir = _sf_dir()
    spark = _spark()
    d = entry._t(spark, sf_dir, "documents").repartition(spark.sparkContext.defaultParallelism)
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    fresh = d.filter(F.col("doc_id") % 2 == 1).unionByName(
        d.filter((F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 20)).withColumn(
            "doc_id", F.col("doc_id") + 100000
        )
    )
    out = {}
    spark.sparkContext.setJobDescription("incdedup: sign corpus")
    t0 = time.time()
    sigs = sign_documents(corpus, method="md5").localCheckpoint(eager=True)
    out["sign_corpus"] = round(time.time() - t0, 2)

    spark.sparkContext.setJobDescription("incdedup: sign fresh (isolated)")
    t0 = time.time()
    fsig_probe = sign_documents(fresh, method="md5")
    fsig_probe.write.format("noop").mode("overwrite").save()
    out["sign_fresh_isolated"] = round(time.time() - t0, 2)

    bands = band_buckets(sigs)
    spark.sparkContext.setJobDescription("incdedup: candidates only")
    t0 = time.time()
    fsig = sign_documents(fresh, method="md5").localCheckpoint(eager=True)
    out["sign_fresh_chk"] = round(time.time() - t0, 2)
    fb = band_buckets(fsig)
    cb = bands.select(F.col("doc_id").alias("_cid"), "band", "bucket")
    cand = fb.join(cb, on=["band", "bucket"]).select("doc_id", "_cid").distinct()
    cand = cand.localCheckpoint(eager=True)
    n_cand = cand.count()
    out["candidates"] = round(time.time() - t0, 2)
    out["n_candidates"] = n_cand

    spark.sparkContext.setJobDescription("incdedup: verify only")
    t0 = time.time()
    csig = sigs.select(F.col("doc_id").alias("_cid"), F.col("signature").alias("_csig"))
    fsg = fsig.select("doc_id", F.col("signature").alias("_fsig"))
    est = (
        F.aggregate(
            F.zip_with("_fsig", "_csig", lambda a, b: F.when(a == b, 1).otherwise(0)),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        / F.size("_fsig")
    )
    near = (
        cand.join(fsg, on="doc_id")
        .join(csig, on="_cid")
        .withColumn("_est", est)
        .filter(F.col("_est") >= 0.75)
        .select("doc_id")
        .distinct()
    )
    near.write.format("noop").mode("overwrite").save()
    out["verify"] = round(time.time() - t0, 2)

    spark.sparkContext.setJobDescription("incdedup: full dedup_against")
    t0 = time.time()
    decisions, _ = dedup_against(
        fresh, sigs, band_buckets(sigs), method="md5", threshold=0.75, broadcast_fresh=False
    )
    decisions.select("doc_id", "verdict").write.format("noop").mode("overwrite").save()
    out["full_dedup_against"] = round(time.time() - t0, 2)
    print(out)


if __name__ == "__main__":
    cmd = sys.argv[1]
    if cmd == "query":
        cmd_query(sys.argv[2], int(sys.argv[3]) if len(sys.argv) > 3 else 3)
    elif cmd == "suite":
        cmd_suite(sys.argv[2].split(","), int(sys.argv[3]) if len(sys.argv) > 3 else 3)
    elif cmd == "explain":
        cmd_explain(sys.argv[2], sys.argv[3] if len(sys.argv) > 3 else None)
    elif cmd == "incdedup":
        cmd_incdedup()
    else:
        raise SystemExit(f"unknown command {cmd}")
