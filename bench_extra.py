"""Supplementary operator benchmarks (guide §1.4: noop-sink isolation).

NOT part of the driver contract — ``bench.py`` is the frozen measured
harness.  This file exists so optimization rounds can time individual
operators (a) without the count()-only column pruning of the suite loop,
and (b) at the 10x candidate volume, with per-step walls.  Usage:

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python bench_extra.py [op ...]

Prints one line per operator: name, wall seconds, rows.
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from bench import write_10x_corpus  # noqa: E402
from knowledgegraphsiqidis_spark.session import get_spark  # noqa: E402


def _mk10x(spark, sf_dir: str) -> str:
    """bench.py's 10x corpus (``bench.write_10x_corpus``), built once into
    this file's own cache directory."""
    d10 = os.path.join("/tmp", "benchx_" + os.path.basename(sf_dir.rstrip("/")))
    if not os.path.exists(os.path.join(d10, "documents.parquet", "_SUCCESS")):
        write_10x_corpus(spark, sf_dir, d10)
    return d10


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    only = set(sys.argv[1:])
    spark = get_spark("kgspark-bench-extra", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    entrymod._ship_package(spark)

    # --- suite queries, noop-isolated (full column materialization) ---
    for name in ("ngram_jaccard", "ivf_topk", "ann_cosine_topk",
                 "minhash_lsh", "simhash_pairs", "embedding_near_dup",
                 "token_stats", "quality_score", "lang_id", "tpch_q1",
                 "multimodal_meta"):
        if only and name not in only:
            continue
        spark.sparkContext.setJobDescription(f"extra:{name}")
        t0 = time.time()
        df = qs[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        print(f"{name}: {time.time() - t0:.2f}s", flush=True)

    # --- 10x-volume operator suite (bench.py scale2 shape, dump-free) ---
    if not only or "10x" in only:
        from knowledgegraphsiqidis_spark.operators import dedup, similarity
        d10 = _mk10x(spark, sf_dir)
        docs10 = spark.read.parquet(os.path.join(d10, "documents.parquet"))
        emb10 = spark.read.parquet(os.path.join(d10, "embeddings.parquet"))
        n = docs10.count()
        print(f"10x corpus: {n} docs", flush=True)
        for name, thunk in (
            ("10x_ngram_jaccard", lambda: dedup.ngram_jaccard_pairs(
                docs10, n=3, threshold=0.2, max_df=100)),
            ("10x_minhash_lsh", lambda: dedup.minhash_lsh_pairs(
                docs10, num_hashes=64, bands=16, threshold=0.5)),
            ("10x_simhash_pairs", lambda: dedup.simhash_near_pairs(
                docs10, max_hamming=3)),
            ("10x_ivf_topk", lambda: similarity.ivf_topk(
                emb10, emb10.filter(F.col("vec_id") < 3)
                .select(F.col("vec_id").alias("query_id"),
                        F.col("embedding").alias("query_vec")),
                k=5, n_centroids=16, n_probe=4)),
            ("10x_embedding_near_dup", lambda: dedup.embedding_near_dup(
                docs10, threshold=0.85, n_planes=64, bands=4, max_bucket=64)),
        ):
            spark.sparkContext.setJobDescription(f"extra:{name}")
            t0 = time.time()
            rows = thunk().count()
            print(f"{name}: {time.time() - t0:.2f}s  rows={rows}", flush=True)


if __name__ == "__main__":
    main()
