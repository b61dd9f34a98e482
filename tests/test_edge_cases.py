"""Degenerate-input hardening for the reusable pipeline helpers.

At 100 TB a partition, slice, or incremental batch is routinely EMPTY or
a single row; operators must return empty/identity results, not throw.
These tests drive the building-block helpers (not the registry queries,
which always see the full fixture) with empty and singleton inputs.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _docs(spark, rows):
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def test_minhash_signature_empty_corpus(spark):
    from data_warehouse_hive_spark.extensions.dedup import signature

    sig = signature(_docs(spark, []))
    assert sig.count() == 0


def test_minhash_pairs_single_doc(spark):
    from data_warehouse_hive_spark.extensions.dedup import (
        minhash_candidate_pairs,
    )

    pairs = minhash_candidate_pairs(
        _docs(spark, [(1, "alpha beta gamma delta")])
    )
    assert pairs.count() == 0  # no pair can exist


def test_minhash_signature_doc_shorter_than_shingle(spark):
    from data_warehouse_hive_spark.extensions.dedup import signature

    sig = signature(_docs(spark, [(1, "one two")]))  # < n=3 words
    rows = sig.collect()
    assert len(rows) == 1 and rows[0]["doc_id"] == 1


def test_label_propagation_empty_edges(spark):
    from data_warehouse_hive_spark.extensions.dedup import (
        min_label_propagation,
    )

    edges = spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("src", T.LongType()),
                T.StructField("dst", T.LongType()),
            ]
        ),
    )
    labels, iters = min_label_propagation(edges)
    assert labels.count() == 0


def test_gopher_quality_empty(spark):
    from data_warehouse_hive_spark.extensions.curation import gopher_quality

    out = gopher_quality(_docs(spark, []))
    assert out.count() == 0
    assert "keep" in out.columns


def test_column_stats_empty_table(spark):
    from data_warehouse_hive_spark.sources.stats import column_stats

    df = spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("a", T.LongType()),
                T.StructField("b", T.StringType()),
            ]
        ),
    )
    stats = column_stats(df)
    assert stats["a"]["null_count"] == 0
    assert stats["a"]["non_null_count"] == 0


def test_shingle_arrays_whitespace_only_doc(spark):
    from data_warehouse_hive_spark.extensions.dedup import shingle_arrays

    out = shingle_arrays(_docs(spark, [(7, "   ")]))
    rows = out.collect()
    # normalizes to empty → one degenerate shingle row, never a crash
    assert len(rows) == 1


def test_kmv_union_smaller_than_k(spark, tmp_path):
    """KMV with fewer distinct keys than K=128: the global-union sketch
    has an EMPTY kth relation, and the query must still return its one
    row via the m<k exact-count fallback (r6 advice: the old crossJoin
    against empty kth returned zero rows)."""
    import datetime

    from data_warehouse_hive_spark.registry import load_all

    rows = [
        (
            i,
            datetime.datetime(2024, 1, 1, 0, 0, i % 60),
            i % 5,  # 5 users x 1 day => 5 distinct kmv keys << K
            "click" if i % 2 == 0 else "purchase",
            float(i),
            "{}",
        )
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = load_all()["q_agg_kmv"].fn(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0].asDict()
    assert r["exact_union"] == 5
    assert r["est_union"] == 5.0


@pytest.mark.parametrize(
    "price, message",
    [
        (None, "requires a non-NULL domain (got NULL y)"),
        (-1.0, "requires a non-negative domain (got a negative y)"),
    ],
    ids=["null", "negative"],
)
def test_spearman_wide_rank_precondition_names_cause(spark, tmp_path, price, message):
    """q_stats_spearman's bucketed midranks need a non-NULL, non-negative
    price domain; each violation fails loudly with its own cause."""
    from data_warehouse_hive_spark.registry import load_all

    spark.createDataFrame(
        [(1.0, 5.0), (2.0, price), (3.0, 7.0)],
        "l_quantity double, l_extendedprice double",
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    with pytest.raises(Exception, match=re.escape(message)):
        load_all()["q_stats_spearman"].fn(spark, str(tmp_path)).collect()
