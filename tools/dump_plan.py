"""Dump ``explain("formatted")`` for a bench query's DataFrame.

Mirrors the DataFrame construction of the ``bench.py`` queries (which
execute an action and so cannot be explained directly) and writes the
formatted physical plan to stdout or a file. Used to produce the
``plans/r14/<query>_{before,after}.txt`` evidence files.

Usage: python tools/dump_plan.py <query> [outfile]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402


def df_b25_semantic_dedup(spark, sf_dir):
    # the *pairs* stage: semantic_dedup_clusters feeds it into an eager
    # localCheckpoint (connected components), which truncates the final
    # plan — the pair pipeline is the part whose shape matters
    from spatialpandas_spark.operators.semantic import semantic_dedup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return semantic_dedup_pairs(emb, n_clusters=16, threshold=0.9, kmeans_iters=2)


def df_b16_knn(spark, sf_dir):
    import bench
    from spatialpandas_spark.operators.knn import sjoin_knn

    corpus = bench.make_points(spark)
    o = bench._spread(spark.read.parquet(f"{sf_dir}/orders.parquet"))
    from spatialpandas_spark import st_point

    qs = o.filter(F.col("o_orderkey") % 8 == 0).select(
        F.col("o_orderkey").alias("qid"),
        st_point(
            (F.col("o_orderkey") * 6007 % 500).cast("double"),
            (F.col("o_custkey") * 9973 % 500).cast("double"),
        ).alias("geom"),
    )
    return sjoin_knn(qs, corpus, k=5, left_id="qid", right_id="id")


def df_b27_sjoin_nearest(spark, sf_dir):
    import bench
    from spatialpandas_spark import st_point
    from spatialpandas_spark.operators.knn import sjoin_nearest

    corpus = bench.make_points(spark)
    o = bench._spread(spark.read.parquet(f"{sf_dir}/orders.parquet"))
    qs = o.filter(F.col("o_orderkey") % 8 == 0).select(
        F.col("o_orderkey").alias("qid"),
        st_point(
            (F.col("o_orderkey") * 6007 % 500).cast("double"),
            (F.col("o_custkey") * 9973 % 500).cast("double"),
        ).alias("geom"),
    )
    return sjoin_nearest(
        qs, corpus, max_distance=2.0, how="left", left_id="qid", right_id="id"
    )


def df_b30_kmv_overlap(spark, sf_dir):
    # the sketch stage: corpus_overlap collects its grouped sketch and
    # finishes on the driver, so the sketch is the only Spark plan it
    # runs. It is ONE tagged-union grouped sketch pass over both sides;
    # mirror that shape.
    import bench
    from spatialpandas_spark.operators.sketch import shingle_sketch

    docs = bench._spread(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    ga = a.select(F.lit(0).alias("__side"), F.col("text"))
    gb = b.select(F.lit(1).alias("__side"), F.col("text"))
    return shingle_sketch(
        ga.unionByName(gb), "text", n=5, k=1024, seed=42,
        group_cols=["__side"],
    )


def df_b29_training_mix(spark, sf_dir):
    import __spark_entry__ as entrymod

    return entrymod.q_training_mix(spark, sf_dir)


def df_b15_dedup_clusters(spark, sf_dir):
    from spatialpandas_spark.operators.dedup import near_dup_clusters

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return near_dup_clusters(docs, threshold=0.5)


def df_b8_minhash(spark, sf_dir):
    from spatialpandas_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_lsh_pairs(docs, threshold=0.5)


def df_b11_grid_sjoin(spark, sf_dir):
    import bench
    from spatialpandas_spark import sjoin, st_point

    li = bench._spread(spark.read.parquet(f"{sf_dir}/lineitem.parquet"))
    pts = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("id"),
        st_point(
            (F.col("l_partkey") * 7919 % 5000).cast("double"),
            (F.col("l_suppkey") * 104729 % 5000).cast("double"),
        ).alias("geom"),
    )
    o = bench._spread(spark.read.parquet(f"{sf_dir}/orders.parquet"))
    cx = (F.col("o_orderkey") * 6007 % 5000).cast("double")
    cy = (F.col("o_custkey") * 9973 % 5000).cast("double")
    r = (F.col("o_orderkey") % 3 + 1).cast("double")
    poly = F.array(F.array(cx + r, cy, cx, cy + r, cx - r, cy, cx, cy - r, cx + r, cy))
    dias = o.select(F.col("o_orderkey").alias("did"), poly.alias("poly"))
    return sjoin(
        pts, dias,
        left_geom="geom", right_geom="poly",
        left_type="point", right_type="polygon",
        strategy="grid", cell_size=50.0,
    )


def df_b17_interval(spark, sf_dir):
    import bench
    from spatialpandas_spark.operators.interval import interval_join

    li = bench._spread(spark.read.parquet(f"{sf_dir}/lineitem.parquet"))
    pts = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("pid"),
        F.datediff(F.col("l_shipdate"), F.lit("1992-01-01")).cast("double").alias("v"),
    )
    o = bench._spread(spark.read.parquet(f"{sf_dir}/orders.parquet"))
    start = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")).cast("double")
    ivs = o.filter(F.col("o_orderkey") % 10 == 0).select(
        F.col("o_orderkey").alias("iid"),
        start.alias("s"),
        (start + (F.col("o_orderkey") % 30 + 1).cast("double")).alias("e"),
    )
    return interval_join(pts, ivs, value_col="v", start_col="s", end_col="e",
                         bucket_width=16.0)


def df_b32_containment_probe(spark, sf_dir):
    import bench
    from spatialpandas_spark.operators.sketch import containment_probe

    docs = bench._spread(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    b = docs.filter(F.col("doc_id") % 17 == 0)
    t = docs.filter(F.col("doc_id") % 17 != 0)
    return containment_probe(t, b, n=5, k=8192)


def df_b28_dwithin(spark, sf_dir):
    import bench
    from spatialpandas_spark import st_point
    from spatialpandas_spark.operators.knn import sjoin_dwithin

    corpus = bench.make_points(spark)
    o = bench._spread(spark.read.parquet(f"{sf_dir}/orders.parquet"))
    qs = o.filter(F.col("o_orderkey") % 8 == 0).select(
        F.col("o_orderkey").alias("qid"),
        st_point(
            (F.col("o_orderkey") * 6007 % 500).cast("double"),
            (F.col("o_custkey") * 9973 % 500).cast("double"),
        ).alias("geom"),
    )
    return sjoin_dwithin(qs, corpus, 2.0, left_id="qid", right_id="id")


def df_b20_pq_scan(spark, sf_dir):
    # same construction as bench b20, state built inline (uncached is
    # fine for plan shape)
    from spatialpandas_spark.operators.pq import pq_encode, pq_topk, train_pq

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    tiled = (
        emb.crossJoin(spark.range(4).withColumnRenamed("id", "rep"))
        .select(
            (F.col("vec_id") * 4 + F.col("rep")).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x: x + (F.col("rep") % 7).cast("float") * F.lit(0.01),
            ).alias("embedding"),
        )
    )
    books = train_pq(tiled, m_sub=8, n_codes=64, sample_n=512, iters=2)
    codes = pq_encode(tiled, books)
    qs = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return pq_topk(qs, codes, books, k=10, rerank=tiled, rerank_factor=4)


def df_b21_ivfpq_probe(spark, sf_dir):
    import os
    import tempfile

    from spatialpandas_spark.operators.similarity_index import (
        build_ivfpq_index,
        query_ivfpq_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = os.path.join(tempfile.mkdtemp(prefix="plan_ivfpq_"), "index")
    build_ivfpq_index(
        emb, path, n_centroids=16, m_sub=8, n_codes=64, store_vectors=True
    )
    qs = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return query_ivfpq_index(spark, path, qs, k=10, n_probe=4, rerank="stored")


def df_b31_ivfsq8_probe(spark, sf_dir):
    import os
    import tempfile

    from spatialpandas_spark.operators.similarity_index import (
        build_ivfsq8_index,
        query_ivfsq8_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = os.path.join(tempfile.mkdtemp(prefix="plan_ivfsq8_"), "index")
    build_ivfsq8_index(emb, path, n_centroids=16, store_vectors=True)
    qs = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return query_ivfsq8_index(spark, path, qs, k=10, n_probe=4, rerank="stored")


def df_b34_langid(spark, sf_dir):
    from spatialpandas_spark.operators.langid import classify_language

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return classify_language(docs, "text").groupBy("lang_pred").count()


def df_b35_span_dedup(spark, sf_dir):
    from spatialpandas_spark.operators.spans import remove_duplicate_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return remove_duplicate_spans(
        docs, window=8, min_count=2, keep="none", align="content"
    ).agg(F.sum("kept_spans"))


BUILDERS = {
    "b20_pq_scan": df_b20_pq_scan,
    "b35_span_dedup": df_b35_span_dedup,
    "b34_langid": df_b34_langid,
    "b21_ivfpq_probe": df_b21_ivfpq_probe,
    "b31_ivfsq8_probe": df_b31_ivfsq8_probe,
    "b25_semantic_dedup": df_b25_semantic_dedup,
    "b16_knn": df_b16_knn,
    "b27_sjoin_nearest": df_b27_sjoin_nearest,
    "b30_kmv_overlap": df_b30_kmv_overlap,
    "b29_training_mix": df_b29_training_mix,
    "b15_dedup_clusters": df_b15_dedup_clusters,
    "b8_minhash": df_b8_minhash,
    "b11_grid_sjoin": df_b11_grid_sjoin,
    "b17_interval": df_b17_interval,
    "b32_containment_probe": df_b32_containment_probe,
    "b28_dwithin": df_b28_dwithin,
}


def main() -> None:
    name = sys.argv[1]
    out = sys.argv[2] if len(sys.argv) > 2 else None
    os.environ.setdefault("SPARK_GRAFT_MAX_PARTITION_BYTES", "4m")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from spatialpandas_spark.session import get_spark

    spark = get_spark(app_name=f"plan_{name}")
    spark.sparkContext.setLogLevel("ERROR")
    df = BUILDERS[name](spark, sf_dir)
    jvm = spark._jvm
    plan = jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    if out:
        with open(out, "w") as f:
            f.write(plan)
        print(f"wrote {out} ({len(plan)} bytes)")
    else:
        print(plan)
    spark.stop()


if __name__ == "__main__":
    main()
