"""The core correctness gate, run locally: every registered query with an
oracle must value-match DuckDB exactly (replicating the driver's check).
Queries without an oracle (ddl_* behavioral) must run and return rows."""

from __future__ import annotations

import pytest

from data_warehouse_hive_spark.registry import load_all

REGISTRY = load_all()
ORACLE_IDS = sorted(n for n, s in REGISTRY.items() if s.oracle is not None)
ROWS_ONLY_IDS = sorted(n for n, s in REGISTRY.items() if s.oracle is None)


@pytest.mark.parametrize("name", ORACLE_IDS)
def test_oracle_match(name, spark, sf_dir, duck):
    from data_warehouse_hive_spark.testing import compare_to_oracle

    spec = REGISTRY[name]
    df = spec.fn(spark, sf_dir)
    result = compare_to_oracle(name, df, spec.oracle, duck)
    assert result.ok, str(result)


@pytest.mark.parametrize("name", ROWS_ONLY_IDS)
def test_rows_only_runs(name, spark, sf_dir):
    spec = REGISTRY[name]
    df = spec.fn(spark, sf_dir)
    rows = df.collect()
    assert len(rows) >= 1, f"{name} returned no rows"


def test_pivot_value_list_covers_domain(duck):
    """An explicit-value PIVOT silently drops rows whose pivot value is
    missing from the list — assert the hardcoded list covers the actual
    column domain (this caught '4-LOW' vs the fixture's
    '4-NOT SPECIFIED')."""
    from data_warehouse_hive_spark.operators.advanced import _PRIORITIES

    domain = {
        r[0]
        for r in duck.execute(
            "SELECT DISTINCT o_orderpriority FROM orders"
        ).fetchall()
    }
    assert domain <= set(_PRIORITIES), (
        f"pivot value list misses {domain - set(_PRIORITIES)}"
    )


def test_no_collection_outputs_in_oracle_queries(spark, sf_dir):
    """Cross-engine value-hash comparators cannot digest array/map/struct
    cells (unhashable after the pandas bridge).  Every oracle-checked
    query must emit scalar columns only — collections are serialized
    (sorted + joined) before projection."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    offenders = []
    for name in ORACLE_IDS:
        df = REGISTRY[name].fn(spark, sf_dir)
        for f in df.schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                offenders.append((name, f.name, f.dataType.simpleString()))
    assert not offenders, offenders
