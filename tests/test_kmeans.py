"""Lloyd refinement of the IVF coarse quantizer: determinism, monotone
quantization-error descent, and the refined index end-to-end."""

from __future__ import annotations

from pyspark.sql import functions as F

from cdc_postgresql_clickhouse_spark.operators.kmeans import (
    lloyd_refine,
    quantization_error,
)
from cdc_postgresql_clickhouse_spark.queries.similarity import (
    _emb_d,
    ann_ivf_topk,
)
from cdc_postgresql_clickhouse_spark.sources.registry import load_table


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select("vec_id", _emb_d().alias("e"))


def test_lloyd_is_deterministic(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    a = lloyd_refine(emb, k=8, iters=2)
    b = lloyd_refine(emb, k=8, iters=2)
    assert a == b  # bit-identical model across runs (9-dp truncation barrier)


def test_lloyd_reduces_quantization_error(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    seed = lloyd_refine(emb, k=8, iters=0)
    refined = lloyd_refine(emb, k=8, iters=2)
    e0 = quantization_error(emb, seed)
    e2 = quantization_error(emb, refined)
    assert e2 <= e0 + 1e-12, (e0, e2)
    assert e2 < e0, "two Lloyd iterations should strictly improve the seed model"


def test_ivf_with_refined_quantizer_end_to_end(spark, sf_dir):
    base = ann_ivf_topk(spark, sf_dir)
    refined = ann_ivf_topk(spark, sf_dir, kmeans_iters=1)
    assert refined.schema == base.schema
    n = refined.count()
    assert n > 0
    # contract holds under the refined quantizer: <= 5 neighbors per query,
    # ranks contiguous from 1
    per_q = refined.groupBy("q_id").agg(F.count("*").alias("n"), F.min("rank").alias("lo"),
                                        F.max("rank").alias("hi"))
    bad = per_q.filter((F.col("n") > 5) | (F.col("lo") != 1) | (F.col("hi") != F.col("n")))
    assert bad.isEmpty()


def test_lloyd_zero_vector_joins_cluster_zero(spark):
    """A zero-norm vector has no defined cosine to any centroid; it is
    assigned cluster 0 instead of a NULL id the centroid update cannot
    index."""
    emb = spark.createDataFrame([(0, [0.0, 0.0, 0.0])], "vec_id long, e array<double>")
    assert lloyd_refine(emb, k=1, iters=1) == [[0.0, 0.0, 0.0]]
