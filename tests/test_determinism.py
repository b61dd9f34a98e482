"""Partitioning-independence proof for the exact-carrier idiom.

The registry's core claim (registry.py docstring) is that every
double aggregation is ORDER-INDEPENDENT: any partition count, any
merge order, identical bits.  These tests run representative queries
under deliberately mismatched shuffle-partition settings and require
byte-identical results — the property the driver's cross-engine hash
comparison silently depends on.
"""

from __future__ import annotations

from data_warehouse_hive_spark.registry import load_all
from data_warehouse_hive_spark.session import conf_scope

REGISTRY = load_all()

# carrier-based aggregation queries spanning the main families
QUERIES = [
    "q_groupby_agg",        # flagship sum/avg
    "q_stats_regression",   # chained power-sum statistics
    "q_agg_moments",        # 4th-order moments
    "q_agg_weighted",       # ratio of two carrier sums
    "q_events_cohort_ltv",  # carrier running sum over a window
    "q_tpch_q01",           # the canonical decision-support aggregate
    "q_stats_bootstrap",    # hash-derived replicate weights
    "q_embed_pca",          # unrolled linear algebra (matvec carriers)
    "q_text_lm_score",      # ln-pinned carrier means over joins
]


def _canon(df):
    cols = sorted(df.columns)
    rows = df.toPandas()[cols].itertuples(index=False, name=None)
    return sorted(map(repr, rows))


def test_results_identical_across_partition_counts(spark, sf_dir):
    for name in QUERIES:
        fn = REGISTRY[name].fn
        with conf_scope(spark, {"spark.sql.shuffle.partitions": "3"}):
            a = _canon(fn(spark, sf_dir))
        with conf_scope(spark, {"spark.sql.shuffle.partitions": "29"}):
            b = _canon(fn(spark, sf_dir))
        assert a == b, f"{name}: result depends on shuffle partitioning"
