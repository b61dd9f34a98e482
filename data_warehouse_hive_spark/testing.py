"""Oracle-comparison harness — a local replica of the driver's check.

For each registered query: run the Spark plan and the DuckDB oracle on the
same parquet fixtures, then compare row count, column names/order-
insensitive schema, and exact values (rows sorted by a total order).  Used
by tests/ so any cross-engine mismatch is caught before the driver runs.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from datetime import date, datetime
from decimal import Decimal

import duckdb
import pandas as pd

from data_warehouse_hive_spark.tables import TABLES, table_path


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Connection with the fixture tables registered as views, mirroring
    the driver's pre-registered view names."""
    import os

    con = duckdb.connect()
    for name in TABLES:
        path = table_path(sf_dir, name)
        # Spark sinks write `<name>.parquet` as a DIRECTORY of part files
        # (e.g. the tools/scale_step.py sf1 fixtures); the driver's own
        # fixtures are single files.  DuckDB needs the glob form for dirs.
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
        )
    return con


def _norm_cell(v):
    """Normalize one value to a comparable, hashable form."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, datetime):
        # dates and midnight-timestamps normalize identically: DuckDB's
        # pandas bridge widens DATE → datetime64, so a Spark DateType column
        # otherwise never compares equal to its oracle DATE column.
        return ("t", v.replace(tzinfo=None).isoformat(timespec="microseconds"))
    if isinstance(v, date):
        return ("t", datetime(v.year, v.month, v.day).isoformat(timespec="microseconds"))
    if isinstance(v, bytes):
        return ("b", v.hex())
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return ("arr", tuple(_norm_cell(x) for x in v))
    if isinstance(v, dict):
        return ("map", tuple(sorted((k, _norm_cell(x)) for k, x in v.items())))
    return v


def _normalize(df: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    cols = sorted(df.columns)
    rows = [
        tuple(_norm_cell(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    ]
    rows.sort(key=repr)
    return cols, rows


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    problems: list[str] = field(default_factory=list)

    def __str__(self) -> str:  # pragma: no cover
        status = "OK" if self.ok else "MISMATCH"
        msg = f"[{status}] {self.name}: spark={self.spark_rows} oracle={self.oracle_rows}"
        for p in self.problems:
            msg += f"\n    {p}"
        return msg


# Above this row count the collect-to-pandas compare stops being viable
# (spark.driver.maxResultSize, pandas memory) and the harness switches to
# the engine-side digest compare — the q_dq_checksum idiom
# (operators/aggregates.py): both engines reduce the relation to five
# commutative fingerprints (COUNT, SUM/XOR/MIN/MAX of a canonical 44-bit
# md5 row hash) and only those ten numbers cross the driver boundary.
# This is what let the sf1 sweep VALUE-verify q_dedup_simhash_pairs'
# 163M-row output instead of falling back to count-only (r10 VERDICT
# task 1).
DIGEST_ROW_LIMIT = 2_000_000


def compare_to_oracle(
    name: str,
    spark_df,
    oracle: str,
    con: duckdb.DuckDBPyConnection,
    digest_row_limit: int | None = DIGEST_ROW_LIMIT,
) -> CompareResult:
    # NOTE: the COUNT(*) probe below executes the oracle once more even
    # when the result is tiny — callers that KNOW the relation is small
    # pass digest_row_limit=None to skip both the probe and the digest
    # machinery entirely (r11 advice).
    if digest_row_limit is not None:
        n_oracle = con.execute(
            f"SELECT COUNT(*) FROM ({oracle}) __t"
        ).fetchone()[0]
        if n_oracle > digest_row_limit:
            return compare_to_oracle_digest(
                name, spark_df, oracle, con, oracle_rows=n_oracle
            )
    spark_pdf = spark_df.toPandas()
    oracle_pdf = con.execute(oracle).fetchdf()

    problems: list[str] = []
    s_cols, s_rows = _normalize(spark_pdf)
    o_cols, o_rows = _normalize(oracle_pdf)

    if s_cols != o_cols:
        problems.append(f"columns differ: spark={s_cols} oracle={o_cols}")
    else:
        # int-vs-float dtype drift (e.g. DuckDB widening SUM to HUGEINT,
        # which its pandas bridge lands as float64) passes a value-equal
        # compare (448 == 448.0) but can fail a strict schema check —
        # surface it here.  Only the i/f kind pair is flagged: other kind
        # differences (object vs datetime64 bridges) are legitimate.
        for c in s_cols:
            ks, ko = spark_pdf[c].dtype.kind, oracle_pdf[c].dtype.kind
            if {ks, ko} == {"i", "f"}:
                problems.append(
                    f"dtype drift on {c!r}: spark={spark_pdf[c].dtype} "
                    f"oracle={oracle_pdf[c].dtype} — cast the wider side"
                )
    if len(s_rows) != len(o_rows):
        problems.append(f"row count differs: spark={len(s_rows)} oracle={len(o_rows)}")
    if not problems:
        # Driver-hasher replica: its pandas sort_values canonicalization
        # must neither crash (unhashable cells) nor disagree.
        try:
            s_hash = _driver_canon(spark_pdf)
            o_hash = _driver_canon(oracle_pdf)
        except TypeError as exc:
            problems.append(f"driver-canon crash: {exc!r}")
        else:
            if s_hash != o_hash:
                problems.append("driver-canon hash mismatch")
    if not problems:
        n_bad = 0
        for i, (sr, orow) in enumerate(zip(s_rows, o_rows)):
            if sr == orow:
                continue
            n_bad += 1
            if n_bad <= 3:
                problems.append(f"row {i}: spark={sr!r} oracle={orow!r}")
        if n_bad > 3:
            problems.append(f"... {n_bad} mismatched rows total")
    return CompareResult(
        name=name,
        ok=not problems,
        spark_rows=len(s_rows),
        oracle_rows=len(o_rows),
        problems=problems,
    )


def _driver_canon(df: pd.DataFrame) -> int:
    """Replica of the external driver's canonicalization: sort the frame by
    every column with pandas ``sort_values`` (which factorizes object
    columns — any unhashable cell raises, exactly as observed in the
    driver), then hash the canonical cell sequence.  Run on both sides so
    hazards surface locally before the driver hits them."""
    cols = sorted(df.columns)
    canon = df[cols].sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    acc = []
    for row in canon.itertuples(index=False, name=None):
        acc.append(tuple(_norm_cell(v) for v in row))
    return hash(tuple(acc))


def _digest_exprs(spark_df) -> tuple[list, list[str]]:
    """Per-column canonical-string expressions for the digest compare,
    derived from the SPARK schema and mirrored into DuckDB SQL by
    column name.  Sorted column order on both sides.  Doubles ride the
    house floor-pin (they are already ≤6-dp pinned display values by
    the house rule, so the 1e6 carrier is lossless); NULL canonicalizes
    to chr(1) so it can't collide with a skipped concat_ws field."""
    from pyspark.sql import functions as F

    s_exprs, d_exprs = [], []
    for f_ in sorted(spark_df.schema.fields, key=lambda f_: f_.name):
        c, t_ = f_.name, f_.dataType.simpleString()
        if t_ in ("bigint", "int", "smallint", "tinyint", "boolean"):
            s, d = F.col(c).cast("string"), f"CAST({c} AS VARCHAR)"
        elif t_ == "string":
            s, d = F.col(c), c
        elif t_ in ("double", "float"):
            s = F.floor(F.col(c) * 1e6 + 0.5).cast("long").cast("string")
            d = f"CAST(CAST(floor({c} * 1e6 + 0.5) AS BIGINT) AS VARCHAR)"
        elif t_ == "date":
            s, d = F.date_format(c, "yyyy-MM-dd"), f"CAST({c} AS VARCHAR)"
        elif t_ in ("timestamp", "timestamp_ntz"):
            # fixed-width microsecond rendering on both sides: Spark's
            # SSSSSS and DuckDB's %f are both zero-padded 6-digit
            # fractions, so 12:00:00 and 12:00:00.500000 digest
            # distinctly and identically in each engine (the variable
            # precision of a bare CAST-to-VARCHAR would not).  The
            # session runs UTC, so LTZ formatting matches DuckDB's
            # naive timestamps wherever the pandas-path compare already
            # matches.  Found by the r14 sf10 sweep: q_fn_interval /
            # q_filter_compare cross DIGEST_ROW_LIMIT only above sf0.1.
            s = F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
            d = f"strftime({c}, '%Y-%m-%d %H:%M:%S.%f')"
        else:
            raise NotImplementedError(
                f"digest compare: unsupported column type {t_!r} for "
                f"{c!r} — extend _digest_exprs or project a scalar"
            )
        s_exprs.append(F.coalesce(s, F.lit("\x01")))
        d_exprs.append(f"coalesce({d}, chr(1))")
    return s_exprs, d_exprs


def compare_to_oracle_digest(
    name: str,
    spark_df,
    oracle: str,
    con: duckdb.DuckDBPyConnection,
    oracle_rows: int | None = None,
) -> CompareResult:
    """Engine-side order-insensitive digest compare (q_dq_checksum
    idiom): each engine reduces the relation to COUNT + SUM/XOR/MIN/MAX
    of a canonical 44-bit md5 row hash — five numbers per side — so a
    lost, duplicated, or mutated row is caught without ever collecting
    the relation.  Used above DIGEST_ROW_LIMIT where toPandas() hits
    spark.driver.maxResultSize (e.g. q_dedup_simhash_pairs at sf1:
    163M legitimate clone pairs)."""
    from pyspark.sql import functions as F

    problems: list[str] = []
    # Column-set check BEFORE digesting (r11 advice): the canonical
    # expressions are derived from the Spark schema only, so an oracle
    # relation with extra/renamed columns would otherwise digest-match
    # undetected (the pandas path flags that mismatch; this path must
    # too).  DESCRIBE binds without executing the query.
    o_cols = sorted(
        r[0] for r in con.execute(f"DESCRIBE ({oracle})").fetchall()
    )
    s_cols = sorted(f_.name for f_ in spark_df.schema.fields)
    if s_cols != o_cols:
        return CompareResult(
            name=name,
            ok=False,
            spark_rows=-1,
            oracle_rows=oracle_rows if oracle_rows is not None else -1,
            problems=[f"columns differ: spark={s_cols} oracle={o_cols}"],
        )
    s_exprs, d_exprs = _digest_exprs(spark_df)
    h = F.conv(
        F.substring(F.md5(F.concat_ws("|", *s_exprs)), 1, 11), 16, 10
    ).cast("long")
    s_row = (
        spark_df.select(h.alias("h"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
            F.bit_xor("h").alias("x"),
            F.min("h").alias("mn"),
            F.max("h").alias("mx"),
        )
        .collect()[0]
    )
    d_canon = ", ".join(d_exprs)
    d_row = con.execute(
        f"""
        WITH __rel AS ({oracle}),
        __h AS (
          SELECT ('0x' || substr(md5(concat_ws('|', {d_canon})), 1, 11))
                   ::UBIGINT::BIGINT AS h
          FROM __rel
        )
        SELECT CAST(COUNT(*) AS BIGINT),
               CAST(SUM(h) AS DECIMAL(38,0)),
               bit_xor(h), CAST(MIN(h) AS BIGINT), CAST(MAX(h) AS BIGINT)
        FROM __h
        """
    ).fetchone()
    s_tup = (int(s_row[0]), int(s_row[1]), int(s_row[2]),
             int(s_row[3]), int(s_row[4]))
    d_tup = tuple(int(v) for v in d_row)
    if s_tup[0] != d_tup[0]:
        problems.append(
            f"row count differs: spark={s_tup[0]} oracle={d_tup[0]}"
        )
    if s_tup != d_tup:
        problems.append(
            f"digest mismatch: spark(n,sum,xor,min,max)={s_tup} "
            f"oracle={d_tup}"
        )
    return CompareResult(
        name=name,
        ok=not problems,
        spark_rows=s_tup[0],
        oracle_rows=d_tup[0] if oracle_rows is None else oracle_rows,
        problems=problems,
    )
