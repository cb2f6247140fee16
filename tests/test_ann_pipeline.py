"""The IVF / PQ / IVF-PQ family runs one pipeline: the trained keys and
their md5 twins differ only in the parameters they hand it, and the md5
parameters the twins build in numpy are the grid the DuckDB oracle builds.
Also: session.tune() names the conf a deployment rejects."""

import warnings

import numpy as np
import pytest

from parquet_to_clickhouse_schema_spark.operators import llm_ann


@pytest.mark.parametrize("tag,n,dim", [("ivf", 16, 64), ("pq", 128, 8)])
def test_md5_grid_np_equals_spark_grid_bit_for_bit(spark, tag, n, dim):
    grid = llm_ann._md5_grid_np(tag, n, dim)
    rows = llm_ann._md5_unit_grid(spark, tag, n, dim).collect()
    assert len(rows) == n * dim
    spark_grid = np.empty((n, dim))
    for r in rows:
        spark_grid[r.c, r.d] = r.val
    assert spark_grid.tobytes() == grid.tobytes()


def test_trained_keys_and_twins_share_one_pipeline(monkeypatch):
    """No Spark job: the pipeline entry is replaced by a recorder, the
    trainers by constants. Each trained key and its md5 twin must reach
    the same entry with the same stages and different parameters."""
    calls = {}
    trained_cent = np.ones((16, 64))
    trained_books = np.ones((8, 16, 8))

    class _Frame:
        def select(self, *cols):
            return self

    def record(key):
        def pipeline(spark, sf_dir, k, **params):
            calls[key] = dict(params, k=k)
            return key

        return pipeline

    monkeypatch.setattr(llm_ann, "load_table", lambda *a, **kw: _Frame())
    monkeypatch.setattr(llm_ann, "_train_coarse_centroids", lambda *a, **kw: trained_cent)
    monkeypatch.setattr(
        llm_ann, "pq_train_codebooks_distributed", lambda *a, **kw: trained_books
    )
    pairs = {
        "q_ivf_topk": "q_ivf_verified_topk",
        "q_pq_topk": "q_pq_verified_topk",
        "q_ivfpq_topk": "q_ivfpq_verified_topk",
    }
    for key in [*pairs, *pairs.values()]:
        monkeypatch.setattr(llm_ann, "_ann_search", record(key))
        assert llm_ann.QUERIES[key](None, "unused") == key

    md5_cent = llm_ann._md5_grid_np("ivf", 16, 64)
    md5_books = llm_ann._md5_grid_np("pq", 128, 8).reshape(8, 16, 8)
    for trained, twin in pairs.items():
        a, b = calls[trained], calls[twin]
        # the same stages: parameters of the same kinds
        assert a.keys() & {"centroids", "books"} == b.keys() & {"centroids", "books"}
        assert a["k"] == b["k"] == 3
        if "centroids" in a:
            assert a["centroids"] is trained_cent
            assert np.array_equal(b["centroids"], md5_cent)
        if "books" in a:
            assert a["books"] is trained_books
            assert np.array_equal(b["books"], md5_books)
    assert "books" not in calls["q_ivf_topk"]
    assert "centroids" not in calls["q_pq_topk"]
    assert calls["q_ivfpq_topk"].keys() >= {"centroids", "books"}
    # each key keeps its own n_probe / refine
    assert (calls["q_ivf_topk"]["n_probe"], calls["q_ivf_verified_topk"]["n_probe"]) == (4, 4)
    assert (calls["q_pq_topk"]["refine"], calls["q_pq_verified_topk"]["refine"]) == (64, 16)
    assert (calls["q_ivfpq_topk"]["n_probe"], calls["q_ivfpq_topk"]["refine"]) == (8, 64)
    assert (
        calls["q_ivfpq_verified_topk"]["n_probe"],
        calls["q_ivfpq_verified_topk"]["refine"],
    ) == (4, 16)


def test_tune_warns_on_a_rejected_conf_and_applies_the_rest():
    from pyspark.errors import AnalysisException

    from parquet_to_clickhouse_schema_spark import session

    rejected = "spark.sql.adaptive.skewJoin.enabled"

    class _Conf:
        def __init__(self):
            self.values = {"spark.sql.shuffle.partitions": "4"}

        def get(self, key, default=None):
            return self.values.get(key, default)

        def set(self, key, value):
            if key == rejected:
                raise AnalysisException(f"Cannot modify the value of {key}")
            self.values[key] = value

    class _Session:
        conf = _Conf()

    fake = _Session()
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert session.tune(fake) is fake
    messages = [str(w.message) for w in caught]
    assert len(messages) == 1 and rejected in messages[0]
    assert rejected not in fake.conf.values
    for key, value in session._TUNED_CONFS.items():
        if key != rejected:
            assert fake.conf.values[key] == value
    assert fake.conf.values[session._TUNED_MARKER] == "1"
