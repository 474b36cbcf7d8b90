"""Phase breakdown of the graph_build_full bench row (round 14).

Times each materialization phase of the build separately with the noop sink
(guide §1.4) and dumps the executed (AQE-final) join strategies of the edges
plan, so we can see whether the dim joins become broadcasts at runtime and
which phase owns the wall-clock.

Usage: python tools/probe_graph_build_phases.py [--runs 3]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession

from cell_kn_mvp_etl_ontologies_spark.session import ENGINE_SQL_CONF

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    b = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .config("spark.driver.memory", "12g")
        .config("spark.sql.shuffle.partitions", str(CPUS * 2))
        .config("spark.ui.enabled", "false")
    )
    for k, v in ENGINE_SQL_CONF.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import bench

    bench.SF_DIR = SF_DIR
    bench.CPUS = CPUS

    from pyspark.storagelevel import StorageLevel

    from cell_kn_mvp_etl_ontologies_spark.fixtures import fixture_ro_terms
    from cell_kn_mvp_etl_ontologies_spark.plans.graph_build import (
        build_edges,
        build_vertices,
        clean_triples,
        parse_uri_dim,
    )

    for r in range(args.runs):
        spark.catalog.clearCache()
        ro = fixture_ro_terms(spark)
        triples = bench.lineitem_triples(spark)
        t0 = time.perf_counter()
        clean = clean_triples(triples).persist(StorageLevel.MEMORY_AND_DISK)
        n_clean = clean.count()
        t1 = time.perf_counter()
        persisted: list = []
        uri_dim = parse_uri_dim(clean, persisted_out=persisted)
        n_dim = uri_dim.count()
        t2 = time.perf_counter()
        vertices, deprecated, valid_keys = build_vertices(clean, ro, uri_dim)
        valid_keys = valid_keys.persist(StorageLevel.MEMORY_AND_DISK)
        n_keys = valid_keys.count()
        t3 = time.perf_counter()
        edges, edge_labels = build_edges(clean, ro, valid_keys, uri_dim)
        noop(edges)
        t4 = time.perf_counter()
        # what the bench does NOT time but vertices consumers would pay:
        noop(vertices)
        t5 = time.perf_counter()
        print(
            f"run {r}: clean={t1-t0:.2f}s({n_clean}) dim={t2-t1:.2f}s({n_dim}) "
            f"keys={t3-t2:.2f}s({n_keys}) edges={t4-t3:.2f}s vertices={t5-t4:.2f}s "
            f"TOTAL(bench-shape)={t4-t0:.2f}s"
        )
        if r == 0:
            import re

            final = edges._jdf.queryExecution().executedPlan().toString()
            joins = re.findall(r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)\b", final)
            from collections import Counter

            print("edges executed-plan joins:", Counter(joins))
        clean.unpersist()
        for df in persisted:
            df.unpersist()
        valid_keys.unpersist()

    spark.stop()


if __name__ == "__main__":
    main()
