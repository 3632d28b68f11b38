"""doc_ingest: successive ``ingest_batch`` calls against a bootstrapped
corpus table and ``SignatureStore`` (the ingest job's default signing
method and store layout). Store appends interleave with probes."""

from __future__ import annotations

import contextlib
import io
import os
import time

import numpy as np

from harness import engine_calls
from oracle import JaccardIndex, fingerprint
from workload import PassResult, Workload, rate, write_parquet

# verdict bands for the exact-Jaccard oracle (16 hashes, 4 bands of 4,
# threshold 0.5): a kept document may not have a committed twin at
# J >= KEEP_MAX (LSH misses it with p < 4e-5), a near-dropped one must have
# a committed neighbour at J >= NEAR_MIN (a false band hit plus estimate
# >= 0.5 below that is p < 1e-8); between the two either verdict is allowed
KEEP_MAX_JACCARD = 0.98
NEAR_MIN_JACCARD = 0.10
ID_OFFSET = 10_000_000


def _documents(seed: int, n_docs: int, out_dir: str):
    """``scripts/make_sf.gen`` documents at the scale factor that yields
    ``n_docs`` rows (its other tables are written to ``out_dir`` too)."""
    import pyarrow.parquet as pq

    from scripts import make_sf

    with contextlib.redirect_stdout(io.StringIO()):
        make_sf.gen(n_docs / 50_000, out_dir, seed=seed)
    return pq.read_table(os.path.join(out_dir, "documents.parquet"), columns=["doc_id", "text"]).to_pandas()


def _batches(docs, seed: int, n_boot: int, batch: int, n_batches: int, n_dup: int):
    """Bootstrap corpus and ``n_batches`` fresh batches,
    each with ``n_dup`` exact and ``n_dup`` near copies of corpus documents
    (one character changed in a long document) mixed in."""
    import pandas as pd

    rng = np.random.default_rng(seed)
    boot = docs.iloc[:n_boot]
    long_ids = np.flatnonzero(boot.text.str.len().to_numpy() >= 400)
    out, start, next_id = [], n_boot, ID_OFFSET
    for _ in range(n_batches):
        part = docs.iloc[start : start + batch]
        start += batch
        exact = boot.text.iloc[rng.integers(0, n_boot, n_dup)].tolist()
        near = []
        for j in rng.choice(long_ids, n_dup):
            t = boot.text.iloc[j]
            k = int(rng.integers(0, len(t)))
            near.append(t[:k] + ("q" if t[k] != "q" else "z") + t[k + 1 :])
        extra = pd.DataFrame({"doc_id": np.arange(next_id, next_id + 2 * n_dup), "text": exact + near})
        next_id += 2 * n_dup
        out.append(pd.concat([part, extra], ignore_index=True))
    return boot.reset_index(drop=True), out


class DocIngest(Workload):
    why = ("the only workload that drives operators.incremental: signing, the store probe, "
           "verdicts and store appends, interleaved with corpus-table writes")
    units = "docs_per_s"
    params = {
        "generator": "scripts/make_sf.gen (documents table)",
        "bootstrap_docs": 200,
        "batch_docs": 40,
        "batches": 16,
        "exact_and_near_copies_per_batch": 4,
        "method": "ingest_batch default (xxhash64)",
        "store": "SignatureStore (plain layout, no bucket cap)",
        "threshold": 0.5,
        "oracle_keep_max_jaccard": KEEP_MAX_JACCARD,
        "oracle_near_min_jaccard": NEAR_MIN_JACCARD,
    }

    @property
    def max_passes(self):
        return self.params["batches"] - 1  # the last batch is kept for the store probes

    def prepare(self, spark, round_dir):
        from dsm2dtm_spark.operators.incremental import SignatureStore
        from dsm2dtm_spark.sources import SnapshotTable

        p = self.params
        n_total = p["bootstrap_docs"] + p["batch_docs"] * p["batches"]
        docs = _documents(self.seed, n_total, os.path.join(round_dir, "sf"))
        boot, self.batches = _batches(
            docs, self.seed, p["bootstrap_docs"], p["batch_docs"], p["batches"],
            p["exact_and_near_copies_per_batch"],
        )
        self.batch_paths = []
        for k, pdf in enumerate(self.batches):
            path = os.path.join(round_dir, f"batch_{k:03d}.parquet")
            write_parquet(pdf, path)
            self.batch_paths.append(path)
        boot_path = os.path.join(round_dir, "bootstrap.parquet")
        write_parquet(boot, boot_path)
        self.corpus = SnapshotTable(os.path.join(round_dir, "corpus"))
        self.store = SignatureStore(os.path.join(round_dir, "store"))
        self.index, self.fps, self.n_corpus = JaccardIndex(), set(), 0
        self.boot = boot
        self.boot_path = boot_path

    def _checked_ingest(self, spark, batch, path, batch_id):
        survivors, counts = self._ingest(spark, path, batch_id)
        kept = {r.doc_id for r in survivors.select("doc_id").collect()}
        failed, notes = self._check(batch, kept, counts, batch_id)
        if failed:
            raise RuntimeError("; ".join(notes))

    def _ingest(self, spark, path, batch_id):
        from dsm2dtm_spark.operators import incremental

        return incremental.ingest_batch(spark, spark.read.parquet(path), self.corpus, self.store,
                                        threshold=self.params["threshold"], batch_id=batch_id)

    def warmup(self, spark):
        """Bootstrap the corpus and store through ``ingest_batch`` (its
        empty-store path, checked like every batch), then run the store
        probe once on the reserved last batch without committing it."""
        from dsm2dtm_spark.operators import incremental

        self._checked_ingest(spark, self.boot, self.boot_path, "bootstrap")
        incremental.dedup_against(
            spark.read.parquet(self.batch_paths[-1]), self.store.read_signatures(spark),
            self.store.read_bands(spark), threshold=self.params["threshold"], broadcast_fresh=True,
        )[0].collect()

    def _check(self, batch, kept_ids: set, counts: dict, label: str):
        """Verdicts of one ingested batch against exact Jaccard over the
        corpus committed before it; then fold the survivors into the corpus."""
        notes = []
        first = batch.sort_values("doc_id").drop_duplicates("text")
        fps = [fingerprint(t) for t in first.text]
        exact = np.array([f in self.fps for f in fps])
        ids = first.doc_id.to_numpy()
        jac = self.index.max_jaccard(first.text.tolist())
        kept = np.array([i in kept_ids for i in ids])
        bad = (kept & exact) | (kept & (jac >= KEEP_MAX_JACCARD)) | (~kept & ~exact & (jac < NEAR_MIN_JACCARD))
        if set(kept_ids) - set(ids.tolist()):
            notes.append(f"{label}: {len(set(kept_ids) - set(ids.tolist()))} survivors are not first copies")
        want = {
            "input": len(batch),
            "after_within_batch_exact": len(first),
            "dropped_exact_vs_corpus": int(exact.sum()),
            "dropped_near_vs_corpus": int((~kept & ~exact).sum()),
            "survivors": int(kept.sum()),
        }
        off = {k: (counts.get(k), v) for k, v in want.items() if counts.get(k) != v}
        if off:
            notes.append(f"{label}: stage counts (engine, oracle) differ: {off}")
        if bad.any():
            notes.append(f"{label}: {int(bad.sum())} verdicts contradict exact Jaccard")
        self.index.add(first.text[kept])
        self.fps.update(f for f, k in zip(fps, kept) if k)
        self.n_corpus += int(kept.sum())
        rows = self.corpus.row_count()
        if rows != self.n_corpus:
            notes.append(f"{label}: corpus table holds {rows} rows, expected {self.n_corpus}")
        failed = int(bad.sum()) + sum(abs((e or 0) - o) for e, o in off.values())
        if notes and not failed:
            failed = len(batch)
        return failed, notes

    def _targets(self):
        from dsm2dtm_spark.operators import incremental
        from dsm2dtm_spark.sources.manifest import SnapshotTable

        return [
            (incremental, "ingest_batch", "incremental.ingest_batch"),
            (incremental, "repair_store", "incremental.repair_store"),
            (incremental, "dedup_against", "incremental.dedup_against"),
            (incremental, "sign_documents", "incremental.sign_documents"),
            (incremental.SignatureStore, "append", "incremental.store_append"),
            (incremental.SignatureStore, "hot_buckets", "incremental.hot_buckets"),
            (SnapshotTable, "read", "sources.read"),
            (SnapshotTable, "write_dataframe", "sources.write_dataframe"),
            (SnapshotTable, "commit", "sources.commit"),
        ]

    def run_pass(self, spark, i, tracer):
        batch = self.batches[i]
        with engine_calls(tracer, self._targets()) as m:
            survivors, counts = self._ingest(spark, self.batch_paths[i], f"batch-{i}")
        res = PassResult(**m, attempted=len(batch), traced=tracer is not None)
        kept = {r.doc_id for r in survivors.select("doc_id").collect()}
        res.failed, res.mismatches = self._check(batch, kept, counts, f"pass {i}")
        res.work = {"docs": len(batch), "near": counts.get("dropped_near_vs_corpus", 0),
                    "exact": counts.get("dropped_exact_vs_corpus", 0)}
        return res

    def layer_probes(self, spark, tracer):
        """On the reserved last batch, without committing it: signing time,
        the store probe (decisions of ``dedup_against``), and the LSH
        candidate pairs against the stored band rows."""
        from pyspark.sql import functions as F

        from dsm2dtm_spark.operators import incremental

        fresh = spark.read.parquet(self.batch_paths[-1])
        t0 = time.perf_counter()
        sigs = incremental.sign_documents(fresh).localCheckpoint(eager=True)
        sign_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        decisions, _ = incremental.dedup_against(
            fresh, self.store.read_signatures(spark), self.store.read_bands(spark),
            threshold=self.params["threshold"], broadcast_fresh=True,
        )
        verdicts = {r.verdict: r.n for r in decisions.groupBy("verdict").agg(F.count("*").alias("n")).collect()}
        probe_s = time.perf_counter() - t0
        fresh_bands = incremental.band_buckets(sigs).withColumnRenamed("doc_id", "fresh_id")
        pairs = fresh_bands.join(self.store.read_bands(spark), on=["band", "bucket"]).select(
            "fresh_id", "doc_id").distinct()
        n_pairs = pairs.count()
        n_cand_docs = pairs.select("fresh_id").distinct().count()
        store_bytes = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(self.store.root) for f in fs
        )
        self.layers.update({
            "incremental.sign_s": sign_s,
            "incremental.probe_s": probe_s,
            "incremental.candidate_pairs": n_pairs,
            "incremental.near_hit_ratio": verdicts.get("near", 0) / n_cand_docs if n_cand_docs else None,
            "incremental.store_mb_per_kdoc": store_bytes / 1e6 / (self.n_corpus / 1e3),
        })
        if not n_cand_docs:
            self.absent["incremental.near_hit_ratio"] = "no fresh document had an LSH candidate"
        return []

    def layer_metrics(self, traced, self_t, outer_t, plan):
        n = max(len(traced), 1)
        out = dict(self.layers)
        out["incremental.append_s"] = outer_t.get("incremental.store_append", 0.0) / n
        out["incremental.ingest_self_s"] = self_t.get("incremental.ingest_batch", 0.0) / n
        out["sources.write_s"] = self_t.get("sources.write_dataframe", 0.0) / n
        out["sources.commit_s"] = outer_t.get("sources.commit", 0.0) / n
        self.absent["plans.resume_s"] = "ingest_batch has no resume anti-join (its batch-id guard is metadata only)"
        return out

    def throughput(self, passes):
        return {"docs_per_s": rate([p.work["docs"] for p in passes], [p.wall_s for p in passes], "documents")}
