#!/usr/bin/env python3
"""ANN benchmark: brute-force cosine top-k vs IVF partition-pruned probe.

500k synthetic 64-d vectors (hash-derived, deterministic). Measures:
  brute        exact cosine over the full corpus (TakeOrderedAndProject)
  ivf build    k-means centroids (driver literals) + cell assignment,
               persisted partitionBy(cell) — the one-time index cost
  ivf probe    scan only n_probe nearest cells (partition pruning on disk)
and reports recall@10 of the probe vs the exact answer.

Numbers from this box land in SCALING.md. Run: python3 examples/ann_bench.py
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from build_a_market_data_etl_strategy_backtesting_engine_spark import get_spark

N_VECS = 500_000
DIM = 64
K = 10
N_CELLS = 32
N_PROBE = 4


N_CLUSTERS = 64  # planted structure: real embedding corpora cluster


def make_vectors(spark):
    """Deterministic clustered vectors: 64 planted centers + 10% noise —
    the geometry IVF exists for. (On structureless uniform data IVF recall
    at n_probe=4/32 measures ~0.3 — there is nothing to quantize; real
    embedding spaces are not uniform.)"""
    dims = F.sequence(F.lit(0), F.lit(DIM - 1))
    c = F.col("id") % N_CLUSTERS
    vec = F.transform(
        dims,
        lambda i: (F.xxhash64(c, i).cast("double") / F.lit(float(2 ** 63))
                   + (F.xxhash64(F.col("id"), i).cast("double")
                      / F.lit(float(2 ** 63))) * 0.1),
    )
    return spark.range(N_VECS).select(
        F.col("id").alias("vec_id"), vec.alias("embedding"))


def main():
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import similarity

    spark = get_spark("ann-bench", shuffle_partitions=32, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "8g",
    })
    spark.sparkContext.setLogLevel("ERROR")
    vecs = make_vectors(spark)
    query = [float(x) / DIM for x in range(DIM)]

    def timed(tag, fn, reps=3):
        best, out = float("inf"), None
        for _ in range(reps):
            t0 = time.perf_counter()
            out = fn()
            best = min(best, time.perf_counter() - t0)
        print(f"{tag:14s} {best:7.2f}s")
        return out

    # warm codegen + source
    vecs.write.format("noop").mode("overwrite").save()

    exact = timed("brute", lambda: [
        r.vec_id for r in
        similarity.brute_force_topk(vecs, query, k=K).collect()])

    work = tempfile.mkdtemp(prefix="ivf_")
    t0 = time.perf_counter()
    cents = similarity.kmeans_centroids(vecs, n_cells=N_CELLS, iterations=3)
    idx_path = os.path.join(work, "index")
    (similarity.ivf_index(vecs, cents)
     .write.mode("overwrite").partitionBy("cell").parquet(idx_path))
    print(f"{'ivf build':14s} {time.perf_counter() - t0:7.2f}s "
          f"(one-time, {N_CELLS} cells)")

    index = spark.read.parquet(idx_path)
    got = timed("ivf probe", lambda: [
        r.vec_id for r in
        similarity.ivf_topk(index, cents, query, k=K, n_probe=N_PROBE)
        .collect()])

    recall = len(set(exact) & set(got)) / K
    print(f"{'recall@10':14s} {recall:7.2f}  "
          f"(n_probe={N_PROBE}/{N_CELLS} cells)")
    shutil.rmtree(work, ignore_errors=True)

    # ---- recall on the REAL embedding distribution (driver testdata) ----
    # The synthetic run above measures latency at scale; this one answers
    # the honest question SCALING.md raises: does IVF recall hold on the
    # actual embeddings table's geometry (not planted clusters)?
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    emb_path = os.path.join(sf_dir, "embeddings.parquet")
    if os.path.exists(emb_path):
        emb = spark.read.parquet(emb_path).select(
            "vec_id", F.col("embedding").cast("array<double>").alias(
                "embedding"))
        n = emb.count()
        cells = max(4, min(16, n // 100))
        cents = similarity.kmeans_centroids(emb, n_cells=cells, iterations=5)
        index = similarity.ivf_index(emb, cents)
        queries = [list(r.embedding) for r in
                   emb.orderBy("vec_id").limit(20).collect()]
        exact_sets = [
            {r.vec_id for r in
             similarity.brute_force_topk(emb, qv, k=K).collect()}
            for qv in queries
        ]
        for n_probe in (2, 4, 8, cells):
            hits = 0
            for qv, ex in zip(queries, exact_sets):
                ap = {r.vec_id for r in
                      similarity.ivf_topk(index, cents, qv, k=K,
                                          n_probe=n_probe).collect()}
                hits += len(ex & ap)
            print(f"{'real recall@10':14s} "
                  f"{hits / (K * len(queries)):7.2f}  "
                  f"({n} driver embeddings, n_probe={n_probe}/{cells} "
                  f"cells, 20 corpus queries)")
    spark.stop()


if __name__ == "__main__":
    main()
