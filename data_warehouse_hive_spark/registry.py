"""Query registry — the single source of truth for SURVEY.md §2 coverage.

Each operator from the SURVEY inventory is registered exactly once with:
  * its Spark implementation  ``(spark, sf_dir) -> DataFrame``
  * its DuckDB oracle SQL (ANSI, runs on the same parquet tables), or None
    for ops whose semantics aren't SQL-expressible (rows-only check).

``__spark_entry__.py`` and the test suite both iterate this registry, so a
query cannot be "implemented" without being driver-checkable.

Cross-engine determinism
------------------------
The driver hash-compares Spark results against DuckDB, so results must be
**value-identical**, not merely close.  Floating-point aggregation order
differs between engines (Spark does partial/final aggregation across
partitions; DuckDB streams), so double sums are NOT reproducible.  The
registry's helper idiom eliminates this instead of papering over it with
rounding:

  * Sum doubles through an exact scaled-long carrier:
    ``floor(x * 1e6 + 0.5)`` cast to BIGINT per row — pure IEEE double ops
    on identical operands (bit-identical in both engines by construction,
    including ties and negatives, because it is the SAME formula, not each
    engine's own "round"), then exact associative integer addition, then
    one final ``/1e6`` in double.  Any aggregation order yields the same
    bits, and the whole pipeline stays inside whole-stage codegen (~4×
    faster than a DECIMAL carrier, which falls back to BigDecimal).
    Overflow bound: |Σ x| < 2^63/1e6 ≈ 9.2e12 — holds for every fixture
    column at every tested SF; for columns beyond it use the decimal
    carrier (``DEC``) as q_stats_profile does for its sum of squares.
  * Averages: carrier sum → double, divided by the exact count; each IEEE
    op has identical operands in both engines, hence identical results.
  * Integer sums: cast to BIGINT on the DuckDB side (DuckDB widens integer
    SUM to HUGEINT; Spark keeps LongType).

Helpers ``dsum``/``davg`` (Spark side) pair with ``o_dsum``/``o_davg``
(oracle side); use them for every double aggregation.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

SparkQuery = Callable[[SparkSession, str], DataFrame]

# Exact-decimal carrier for double aggregation; 18 digits / 6 decimals covers
# every fixture column (|x| < 1e12) and sums stay within Spark's widened
# DECIMAL(28,6) and DuckDB's DECIMAL(38,6) at any tested scale factor.
DEC = "decimal(18,6)"


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: SparkQuery
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = field(default=())


REGISTRY: dict[str, QuerySpec] = {}


def query(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
) -> Callable[[SparkQuery], SparkQuery]:
    """Register a SURVEY §2 operator implementation."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in REGISTRY:
            raise ValueError(f"duplicate query id {name!r}")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Runtime-settable determinism conf, applied even when the
            # session was built by the external driver.
            from data_warehouse_hive_spark.session import ensure_engine_conf

            ensure_engine_conf(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        REGISTRY[name] = QuerySpec(
            name=name, fn=wrapped, oracle=oracle, doc=fn.__doc__ or "", tags=tags
        )
        return wrapped

    return deco


def capabilities() -> dict[str, bool]:
    """Environment-dependent capability flags, probed lazily.  Optional
    surfaces degrade gracefully where a dependency is absent and light
    up with ZERO code change where it is installed:

    - ``transform_with_state``: the transformWithStateInPandas streaming
      path ships its worker state protocol over protobuf; without the
      ``protobuf`` package the PySpark API imports but the streaming
      worker dies at init, so streaming/stateful.py gates on this flag
      (and tests/test_streaming.py skips the e2e when it is False).
    - ``real_media_decode``: sources/multimodal.py decodes image
      payloads with Pillow when importable, else the deterministic
      fake — same mapInPandas plumbing either way.
    """
    from data_warehouse_hive_spark.sources.multimodal import (
        real_decoder_available,
    )
    from data_warehouse_hive_spark.streaming.stateful import (
        tws_runtime_available,
    )

    return {
        "transform_with_state": tws_runtime_available(),
        "real_media_decode": real_decoder_available(),
    }


# --------------------------------------------------------------------------
# Cross-engine-exact aggregation helpers (Spark side)
# --------------------------------------------------------------------------

# scaled-long carrier: 6 decimal digits preserved exactly
CARRIER_SCALE = 1e6


def to_carrier(c: Column) -> Column:
    """floor(x*1e6 + 0.5) as long — the engine-portable exact carrier."""
    return F.floor(c * CARRIER_SCALE + 0.5).cast("long")


def dsum(col: Column | str, alias: str) -> Column:
    """Order-independent double sum via the exact scaled-long carrier."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(to_carrier(c)).cast("double") / CARRIER_SCALE).alias(alias)


def davg(col: Column | str, alias: str) -> Column:
    """Order-independent double mean: carrier sum / exact count."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.sum(to_carrier(c)).cast("double") / CARRIER_SCALE / F.count(c).cast("double")
    ).alias(alias)


# Oracle-side (DuckDB SQL) counterparts — keep textually in sync with above.

def o_dsum(expr: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST(floor(({expr}) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)"
        f" / 1e6 AS {alias}"
    )


def o_davg(expr: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST(floor(({expr}) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)"
        f" / 1e6 / CAST(COUNT({expr}) AS DOUBLE) AS {alias}"
    )


def load_all() -> dict[str, QuerySpec]:
    """Import every module that registers queries, then return the registry."""
    import data_warehouse_hive_spark.operators.relational  # noqa: F401
    import data_warehouse_hive_spark.operators.joins  # noqa: F401
    import data_warehouse_hive_spark.operators.aggregates  # noqa: F401
    import data_warehouse_hive_spark.operators.windows  # noqa: F401
    import data_warehouse_hive_spark.operators.sorts  # noqa: F401
    import data_warehouse_hive_spark.operators.setops  # noqa: F401
    import data_warehouse_hive_spark.operators.advanced  # noqa: F401
    import data_warehouse_hive_spark.operators.tpch  # noqa: F401
    import data_warehouse_hive_spark.operators.analytics  # noqa: F401
    import data_warehouse_hive_spark.functions.scalar  # noqa: F401
    import data_warehouse_hive_spark.functions.text  # noqa: F401
    import data_warehouse_hive_spark.functions.udfs  # noqa: F401
    import data_warehouse_hive_spark.streaming.time_windows  # noqa: F401
    import data_warehouse_hive_spark.extensions.dedup  # noqa: F401
    import data_warehouse_hive_spark.extensions.similarity  # noqa: F401
    import data_warehouse_hive_spark.extensions.retrieval  # noqa: F401
    import data_warehouse_hive_spark.extensions.knn_graph  # noqa: F401
    import data_warehouse_hive_spark.extensions.graph  # noqa: F401
    import data_warehouse_hive_spark.extensions.curation  # noqa: F401
    import data_warehouse_hive_spark.extensions.diagnostics  # noqa: F401
    import data_warehouse_hive_spark.sources.ddl_queries  # noqa: F401

    return REGISTRY
