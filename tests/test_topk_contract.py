"""The shared contract of the four vector top-k operators (cosine_topk,
ivf_topk, pq_topk, ivfpq_topk): unusable query vectors get no rows, the
query-side cap raises QuerySideTooLarge, PQ training leaves nothing
persisted, and pooled driver actions inherit the caller's session."""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from etl_file_sync_spark.catalog import load_table
from etl_file_sync_spark.operators import pq as PQ
from etl_file_sync_spark.operators import similarity as S

OPERATORS = {
    "cosine_topk": S.cosine_topk,
    "ivf_topk": S.ivf_topk,
    "pq_topk": PQ.pq_topk,
    "ivfpq_topk": PQ.ivfpq_topk,
}
NULL_QUERY = 40


def _null_vectors(e, where):
    return e.withColumn(
        "embedding",
        F.when(where, F.lit(None).cast(e.schema["embedding"].dataType)).otherwise(F.col("embedding")),
    )


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


@pytest.mark.parametrize("op", list(OPERATORS))
def test_null_query_vector_gets_no_rows(spark, sf_dir, op):
    e = _null_vectors(load_table(spark, sf_dir, "embeddings"), F.col("vec_id") == NULL_QUERY)
    q = e.filter(F.col("vec_id") % 40 == 0)
    n_usable = q.filter(F.col("embedding").isNotNull()).count()
    assert n_usable > 1
    rows = OPERATORS[op](e, q, k=5).collect()
    per_query: dict[int, int] = {}
    for r in rows:
        per_query[r.query_id] = per_query.get(r.query_id, 0) + 1
    assert NULL_QUERY not in per_query
    assert NULL_QUERY not in {r.neighbor_id for r in rows}
    assert len(per_query) == n_usable and set(per_query.values()) == {5}


@pytest.mark.parametrize("op", ["pq_topk", "ivfpq_topk"])
def test_query_side_cap_raises(spark, sf_dir, op):
    e = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(S.QuerySideTooLarge):
        OPERATORS[op](e, e.filter(F.col("vec_id") % 40 == 0), k=5, max_queries=5)


def test_pq_training_and_degenerate_paths_leave_nothing_persisted(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    before = _persisted(spark)
    assert PQ.pq_train(e, m=16, k=32, iters=1).shape == (16, 32, 4)
    assert _persisted(spark) == before
    all_null = _null_vectors(e, F.lit(True))
    for op in (PQ.pq_topk, PQ.ivfpq_topk):
        assert op(all_null, all_null, k=5).count() == 0
        assert _persisted(spark) == before


@pytest.mark.parametrize("op", ["pq_topk", "ivfpq_topk"])
def test_pooled_actions_receive_the_session(spark, sf_dir, op):
    # without the session, pyspark warns "Spark session is not provided.
    # Tags will not be inherited." and the pooled jobs escape interruptTag
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 40 == 0)
    with warnings.catch_warnings():
        warnings.filterwarnings("error", message="Spark session is not provided", category=UserWarning)
        assert OPERATORS[op](e, q, k=5).count() > 0


@pytest.mark.parametrize("op", ["ivf_topk", "ivfpq_topk"])
def test_corpus_without_centroids_gets_empty_answer(spark, sf_dir, op):
    # stride centroids are the ids divisible by `every`; none survive here
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 50 != 0)
    q = e.filter(F.col("vec_id") % 40 == 0)
    assert OPERATORS[op](e, q, k=5).count() == 0
