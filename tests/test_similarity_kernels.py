"""The shared kNN kernels of `operators/similarity.py`: the oracle-order
cosine arithmetic, the per-cell IVF scorer, and the Spark jobs an
operator runs while its frame is built."""

from __future__ import annotations

import math
import uuid

import numpy as np
import pandas as pd
import pytest

from dbeam_spark.operators import similarity


def _py_dot(a, b) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


@pytest.mark.parametrize("dim", [1, 64])
def test_seq_kernels_equal_a_left_to_right_loop(dim):
    rng = np.random.default_rng(dim)
    A = rng.standard_normal((7, dim))
    B = rng.standard_normal((5, dim))
    A[3] = 0.0  # a zero-vector row
    norms = similarity._seq_norms(A)
    with np.errstate(invalid="ignore"):
        cos = similarity._seq_cosine(A, B)
    for i, a in enumerate(A):
        assert norms[i] == math.sqrt(_py_dot(a, a))
        for j, b in enumerate(B):
            if i == 3:
                assert math.isnan(cos[i, j])  # 0/0, as in the oracle
                continue
            ref = _py_dot(a, b) / (
                math.sqrt(_py_dot(a, a)) * math.sqrt(_py_dot(b, b))
            )
            assert cos[i, j] == ref
    # norms passed in give the same bits as norms computed inside
    nb = similarity._seq_norms(B)
    with np.errstate(invalid="ignore"):
        again = similarity._seq_cosine(A, B, nb=nb)
    assert np.array_equal(again, cos, equal_nan=True)


def _cell_frame(ids, M) -> pd.DataFrame:
    return pd.DataFrame({"rid": np.array(ids, dtype=np.int64), "v": list(M)})


def _reference_cell_top_k(a_pdf, q_pdf, k):
    """Per query: a stable argsort of the same cosine matrix, self
    dropped, first k kept."""

    def unit(M):
        return M / np.linalg.norm(M, axis=1, keepdims=True)

    S = unit(np.stack(q_pdf["v"])) @ unit(np.stack(a_pdf["v"])).T
    b_ids = a_pdf["rid"].to_numpy()
    rows = []
    for qi, qid in enumerate(q_pdf["rid"]):
        order = [i for i in np.argsort(-S[qi], kind="stable") if b_ids[i] != qid]
        rows += [(qid, b_ids[i], np.round(S[qi, i], 6)) for i in order[:k]]
    return rows


def test_cell_top_k_matches_a_stable_argsort_reference():
    rng = np.random.default_rng(7)
    B = rng.standard_normal((12, 8))
    B[5] = B[2]  # a tie: the earlier base row ranks first
    a_pdf = _cell_frame(range(100, 112), B)
    # query 102 is also a base row: its self-match is excluded
    q_pdf = _cell_frame([102, 900, 901], [B[2], B[2], rng.standard_normal(8)])
    out = similarity._cell_top_k(4)(None, a_pdf, q_pdf)
    assert list(out.dtypes) == [np.int64, np.int64, np.float64]
    got = list(zip(out["query_id"], out["neighbor_id"], out["sim"]))
    assert got == _reference_cell_top_k(a_pdf, q_pdf, 4)
    assert len(got) == 12
    assert (102, 102) not in {(q, n) for q, n, _ in got}
    assert got[0][:2] == (102, 105)
    assert [n for q, n, _ in got if q == 900][:2] == [102, 105]


def test_cell_top_k_empty_side_is_an_empty_frame():
    a_pdf = _cell_frame([1, 2], np.eye(2))
    empty = _cell_frame([], np.zeros((0, 2)))
    score = similarity._cell_top_k(3)
    for out in (score(None, a_pdf, empty), score(None, empty, a_pdf)):
        assert len(out) == 0
        assert list(out.columns) == ["query_id", "neighbor_id", "sim"]
        assert list(out.dtypes) == [np.int64, np.int64, np.float64]
    # a single base row that is the query itself leaves nothing
    out = score(None, _cell_frame([1], np.eye(2)[:1]), a_pdf.iloc[:1])
    assert len(out) == 0


def _embeddings(spark):
    from dbeam_spark.sources.files import load_table
    from test_queries_oracle import SF_DIR

    return load_table(spark, SF_DIR, "embeddings")


def _build(spark, build):
    """(frame that build() returns, number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"knn-build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "build a kNN frame")
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_knn_bruteforce_frame_runs_one_spark_job(spark):
    """Building knn_bruteforce's frame collects the queries and runs
    nothing else."""
    from pyspark.sql import functions as F

    emb = _embeddings(spark)
    queries = emb.filter(F.col("vec_id") < 10)
    _, jobs = _build(spark, lambda: similarity.knn_bruteforce(emb, queries, k=5))
    assert jobs == 1


def test_knn_pq_empty_query_set_returns_before_training(spark):
    """No queries: knn_pq returns an empty frame of its usual schema
    after the one job that collects the queries, without training or
    encoding the base."""
    from pyspark.sql import functions as F

    emb = _embeddings(spark)
    none = emb.filter(F.col("vec_id") < 0)
    out, jobs = _build(spark, lambda: similarity.knn_pq(emb, none, m=16, nbits=4))
    assert jobs == 1
    assert out.collect() == []
    assert out.schema.simpleString() == (
        "struct<query_id:bigint,neighbor_id:bigint,adist:double,rank:int>"
    )
