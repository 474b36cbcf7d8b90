"""Bit-identity audit for the routed (non-collect) IVF serving path at a
LARGE query batch (VERDICT r4 #2 "Done" condition).

Builds the same 80k-corpus / 64-cell index as bench.py's ann_ivf_80k, then
runs |Q| = 10,000 queries through BOTH serving paths:

  - ivf_topk_prebuilt         (expression path, per-candidate HOF dots)
  - ivf_topk_prebuilt_routed  (cogrouped Arrow matmul, no driver
                               collect of the query side)

and asserts the two result sets are IDENTICAL — every (q_id, t_id, cos, rnk)
tuple, cosines compared bit-for-bit as doubles.  Prints one JSON line.

Run from the repo root:  python tools/verify_routed_ann.py
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from cell_kn_mvp_etl_ontologies_spark.operators.clustering import kmeans_fit
from cell_kn_mvp_etl_ontologies_spark.operators.similarity import (
    build_ivf_index,
    ivf_topk_prebuilt,
    ivf_topk_prebuilt_routed,
)
from cell_kn_mvp_etl_ontologies_spark.session import ENGINE_SQL_CONF

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
N_QUERIES = int(os.environ.get("SPARK_GRAFT_ANN_Q", "10000"))


def expanded_embeddings(spark, times: int = 40):
    from cell_kn_mvp_etl_ontologies_spark.io import load_table

    em = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    reps = spark.range(times).select(F.col("id").cast("int").alias("rep"))
    return (
        em.crossJoin(F.broadcast(reps))
        .select(
            (F.col("vec_id") * times + F.col("rep")).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: (x * (1.0 + ((i + F.col("rep") * 7) % 13) / 40.0)).cast(
                    "float"
                ),
            ).alias("embedding"),
        )
        .repartition(CPUS * 2)
    )


def main() -> None:
    builder = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("verify-routed-ann")
        .config("spark.sql.shuffle.partitions", str(CPUS))
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
    )
    for k, v in ENGINE_SQL_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    corpus = expanded_embeddings(spark).persist()
    cents = kmeans_fit(corpus, "vec_id", "embedding", k=64, n_iter=2)
    centroids = cents.select(
        F.col("cell").cast("long").alias("vec_id"),
        F.transform("cv", lambda x: (x / 1000.0).cast("float")).alias("embedding"),
    ).persist()
    centroids.count()
    index = build_ivf_index(corpus, centroids, n_partitions=CPUS * 2).persist()
    n_corpus = index.count()

    q = corpus.filter(F.col("vec_id") < N_QUERIES)

    t0 = time.time()
    a = {
        (r.q_id, r.rnk): (r.t_id, r.cos)
        for r in ivf_topk_prebuilt(q, index, centroids, k=10, nprobe=8).collect()
    }
    t_expr = time.time() - t0
    t0 = time.time()
    b = {
        (r.q_id, r.rnk): (r.t_id, r.cos)
        for r in ivf_topk_prebuilt_routed(q, index, centroids, k=10, nprobe=8).collect()
    }
    t_routed = time.time() - t0

    identical = a == b
    n_diff = sum(1 for k_ in set(a) | set(b) if a.get(k_) != b.get(k_))
    print(
        json.dumps(
            {
                "n_corpus": n_corpus,
                "n_queries": N_QUERIES,
                "rows_expr": len(a),
                "rows_routed": len(b),
                "bit_identical": identical,
                "n_diff": n_diff,
                "sec_expr_path": round(t_expr, 2),
                "sec_routed_path": round(t_routed, 2),
            }
        )
    )
    spark.stop()
    if not identical:
        sys.exit(1)


if __name__ == "__main__":
    main()
