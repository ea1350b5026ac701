#!/usr/bin/env python
"""Dump .explain('formatted') for every bench leg, plus the webtext ingest
and the corpus-curation chain, to plans/<tag>/<name>_<suffix>.txt.

Usage: python tools/dump_plans.py r06 before
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r06"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"

    from pyspark.sql import functions as F

    from hope_graph_builder_spark import synth
    from hope_graph_builder_spark.operators.extract import markup_pages
    from hope_graph_builder_spark.operators.spatial_join import (
        dwithin_join, hot_cell_factors, pip_join_rect, with_point_cell,
    )
    from hope_graph_builder_spark.pipelines.curation import run_corpus_curation
    from hope_graph_builder_spark.pipelines.noise_join import run_noise_join
    from hope_graph_builder_spark.pipelines.webtext import run_webtext_ingest
    from hope_graph_builder_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    mult = int(os.environ.get("SPARK_GRAFT_MULT", "100"))
    spark = get_spark(app="dump_plans", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    spark.sparkContext.setLogLevel("ERROR")
    layers = synth.noise_layers(spark)

    # read the SAME materialized parquet inputs bench.py times against,
    # so the dumped plans are the benched plans (the raw synth generators
    # carry their own repartition exchanges that the bench never runs)
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    cache_root = os.environ.get("SPARK_GRAFT_BENCH_CACHE", "/dev/shm/bench_inputs")

    def materialize(df, name):
        path = f"{cache_root}/{sf_tag}_m{mult}/{name}"
        if not os.path.exists(path + "/_SUCCESS"):
            df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    edges = materialize(synth.page_edges_dense(spark, sf_dir, mult), "edges")
    points = materialize(synth.page_points_dense(spark, sf_dir, mult), "points")
    edges_tenth = materialize(
        synth.page_edges_dense(spark, sf_dir, max(mult // 10, 1)).filter(
            F.col("edge_id") % 10 != 0
        ),
        "edges_tenth",
    )
    pages = materialize(markup_pages(synth.pages(spark, sf_dir)), "pages")
    docs = materialize(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "source", "text"),
        "documents",
    )
    pw = with_point_cell(points, "x", "y", 7)
    hot = hot_cell_factors(pw, threshold=max(125 * mult, 100_000)).localCheckpoint()

    dfs = {
        "point_cells": with_point_cell(points, "x", "y", 9),
        "pip_join": pip_join_rect(points, layers, res=8, how="inner", point_id="doc_id"),
        "pip_join_shuffle_salted": pip_join_rect(
            points, layers, res=7, how="inner", point_id="doc_id",
            salt=8, broadcast_polys=False),
        "pip_join_shuffle_hot": pip_join_rect(
            points, layers, res=7, how="inner", point_id="doc_id",
            hot=hot, broadcast_polys=False),
        "dwithin_join": dwithin_join(
            points.filter(F.col("doc_id") % 10 != 0), edges_tenth, dist=30.0, res=9),
        "flagship_noise_join": run_noise_join(edges, layers, synth.NODATA_RECT, res=7),
        # the ingest's clustering fixpoint runs eagerly while it is built
        "webtext_ingest": run_webtext_ingest(pages),
        "corpus_curation": run_corpus_curation(
            docs, quota_per_source=300, token_budget=2_000_000, seq_len=64,
            overlap=8, n_shards=32,
            gate_cols=["ok_word_count", "ok_mean_word_len", "ok_symbol_ratio"],
        ),
    }
    outdir = os.path.join(REPO, "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    for name, df in dfs.items():
        p = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(p, "w") as f:
            f.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
        print(f"wrote {p}")
    spark.stop()


if __name__ == "__main__":
    main()
