"""The benchmark's workloads: what one op does, untraced and traced, and
how its output is checked.

`olap` runs registry ids over the generated star schema.  `ingest` runs
the upload path of the product API over generated delimited files.  Both
run as a closed loop with one client: the next op starts when the
previous one returns.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field, replace

from gen import CsvTruth
from spans import Tracer, job_group, stage_totals

# A fixed subset of the headline and TPC-H ids (the full 39 take ~23 s a
# pass on 4 cores, more than one run can hold; nine leave room for five
# steady passes).  Ids from every package that defines registry ops;
# `q_dedup_minhash` is session-memoized, so its first call builds the memo
# and later calls hit it.
OLAP_IDS = (
    "q_groupby_agg",       # operators.aggregates: TPC-H Q1 shape
    "q_win_rownum",        # operators.windows: ranking windows
    "q_tpch_q03",          # operators.tpch: 3-table join + top-k
    "q_tpch_q06",          # operators.tpch: scan + filter + agg
    "q_tpch_q13",          # operators.tpch: outer join + two-level agg
    "q_fn_string",         # functions.scalar
    "q_dedup_minhash",     # extensions.dedup (memoized)
    "q_sim_search",        # extensions.similarity
    "q_time_tumbling",     # streaming.time_windows
)
MEMO_IDS = frozenset({"q_dedup_minhash"})
# olap's `time_to_query_s`: an aggregate straight over the fact table.
FIRST_AGGREGATE_ID = "q_tpch_q06"

# Ran in setup to warm the JVM; not one of the timed ids.
WARMUP_ID = "q_filter_compare"

# One id per package, traced in every traced pass of a workload that
# bypasses the registry, so every layer metric is measured on every run.
PROBE_IDS = ("q_groupby_agg", "q_fn_string", "q_dedup_minhash", "q_time_tumbling")

PACKAGES = ("operators", "functions", "extensions", "streaming")


def package_of(spec) -> str:
    """The package that defines a registry op, read off the function the
    registry wraps (`data_warehouse_hive_spark.<pkg>.<module>`)."""
    for cell in spec.fn.__closure__ or ():
        fn = cell.cell_contents
        if callable(fn) and getattr(fn, "__module__", "").startswith("data_warehouse_hive_spark."):
            return fn.__module__.split(".")[1]
    raise ValueError(f"cannot tell which package defines {spec.name}")


@dataclass
class OpResult:
    op: str
    seconds: float
    error: str | None = None
    problems: list[str] = field(default_factory=list)
    time_to_query_s: float | None = None


def count_failed(results: list[OpResult], check_problems: dict[str, list[str]]) -> int:
    """Ops that raised, failed their own check, or belong to an id whose
    output check failed."""
    return sum(1 for r in results if r.error or r.problems or check_problems.get(r.op))


# --------------------------------------------------------------------------
# olap
# --------------------------------------------------------------------------

def run_registry_op(spark, spec, sf_dir: str) -> None:
    """Untraced: build the DataFrame and execute it into the noop sink."""
    spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()


def run_registry_op_traced(spark, spec, sf_dir: str, tr: Tracer, seq: int,
                           layer: dict) -> None:
    """Traced: build under one job group, force the physical plan, then
    execute that same plan under a second job group.  Executing the
    planned QueryExecution (instead of a noop write, which would plan a
    second time) keeps planning counted once."""
    pkg = package_of(spec)
    build_group, exec_group = f"pb{seq}b", f"pb{seq}x"
    started_ms = time.time() * 1e3
    with job_group(spark, build_group):
        with tr.span("registry.build"):
            df = spec.fn(spark, sf_dir)
        with tr.span("plans"):
            qe = df._jdf.queryExecution()
            qe.executedPlan()
    with job_group(spark, exec_group), tr.span(f"{pkg}.exec"):
        qe.toRdd().count()
    for phase, ms in _phases(qe, started_ms).items():
        layer[f"plans.{phase}_s"] = layer.get(f"plans.{phase}_s", 0.0) + ms / 1e3
    b = stage_totals(spark, build_group)
    layer["registry.build_jobs"] = layer.get("registry.build_jobs", 0.0) + b["jobs"]
    for k, v in stage_totals(spark, exec_group).items():
        layer[f"{pkg}.{k}"] = layer.get(f"{pkg}.{k}", 0.0) + v


def _phases(qe, since_ms: float) -> dict[str, float]:
    """Planning-phase times (ms) the tracker recorded since `since_ms`.
    A DataFrame handed back from a session memo carries the tracker of
    the call that built it: its phases started earlier, cost nothing now
    and are skipped (the tracker would report first start to last end)."""
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._2().startTimeMs() >= since_ms - 1:
            out[kv._1()] = float(kv._2().durationMs())
    return out


def check_registry_op(spark, spec, sf_dir: str, con) -> list[str]:
    """Compare a fresh build of the op against its DuckDB oracle; the
    digest path takes over above the row limit."""
    from data_warehouse_hive_spark.testing import compare_to_oracle

    res = compare_to_oracle(spec.name, spec.fn(spark, sf_dir), spec.oracle, con)
    return [] if res.ok else (res.problems or ["mismatch"])


# --------------------------------------------------------------------------
# ingest
# --------------------------------------------------------------------------

def group_sql(table: str) -> str:
    return (
        f"SELECT category, COUNT(*) AS n, "
        f"SUM(CAST(ROUND(amount * 100) AS BIGINT)) AS cents "
        f"FROM `{table}` GROUP BY category"
    )


@dataclass
class IngestObservation:
    """What the program reported for one uploaded file."""

    table: str
    types: dict[str, str]
    violations: dict[str, int]
    validated_rows: int
    info_rows: int
    info_columns: list[str]
    groups: dict[str, tuple[int, int]]
    ctas_rows: int
    listed: set[str]
    listed_after_drop: set[str]


def check_ingest(truth: CsvTruth, obs: IngestObservation) -> list[str]:
    """Every field the program reported must equal the generator's
    ground truth."""
    problems = []
    if obs.types != truth.types:
        problems.append(f"inferred types {obs.types} != {truth.types}")
    if obs.violations != truth.violations:
        problems.append(f"violations {obs.violations} != {truth.violations}")
    for what, got in (("validated rows", obs.validated_rows),
                      ("table_info rows", obs.info_rows),
                      ("ctas rows", obs.ctas_rows)):
        if got != truth.rows:
            problems.append(f"{what} {got} != {truth.rows}")
    if obs.info_columns != list(truth.types):
        problems.append(f"served columns {obs.info_columns} != {list(truth.types)}")
    if obs.groups != truth.groups:
        problems.append(f"group by {obs.groups} != {truth.groups}")
    if not {obs.table, obs.table + "_pq"} <= obs.listed:
        problems.append(f"list_tables misses {obs.table}")
    if obs.listed_after_drop & {obs.table, obs.table + "_pq"}:
        problems.append(f"drop_table left {obs.table}")
    return problems


def ingest_file(spark, truth: CsvTruth, tr: Tracer, layer: dict,
                traced: bool) -> tuple[IngestObservation, float]:
    """One upload op: process_csv, table_info, GROUP BY, CTAS into a
    managed parquet table, list_tables, drop both.  Returns what the
    program reported and the time from the process_csv call until the
    GROUP BY returned.  The traced form calls process_csv's steps one
    by one, in `ingest_csv`'s order."""
    group = f"pi{len(tr.spans)}"
    with job_group(spark, group) if traced else nullcontext():
        obs, ttq = _ingest_steps(spark, truth, tr, traced)
    if traced:
        layer["sources.jobs"] = layer.get("sources.jobs", 0.0) + stage_totals(spark, group)["jobs"]
    return obs, ttq


def _ingest_steps(spark, truth: CsvTruth, tr: Tracer,
                  traced: bool) -> tuple[IngestObservation, float]:
    from data_warehouse_hive_spark import api
    from data_warehouse_hive_spark.sources import catalog, csv_ingest

    t0 = time.perf_counter()
    if traced:
        with tr.span("api.process_csv"):
            name = csv_ingest.sanitize_table_name(truth.table)
            with tr.span("sources.infer"):
                schema, delim = csv_ingest.infer_csv_schema(spark, truth.path)
            with tr.span("sources.validate"):
                validation = csv_ingest.validate_against_schema(
                    spark, truth.path, schema, delimiter=delim)
            with tr.span("sources.register"):
                csv_ingest.create_external_csv_table(
                    spark, name, truth.path, schema, delimiter=delim, replace=True)
                spark.sql(f"REFRESH TABLE `{name}`")
        types = {f.name: f.dataType.simpleString() for f in schema.fields}
        with tr.span("sources.table_info"):
            info = catalog.table_info(spark, name)
        info_rows = info.row_count
        info_cols = [c["col_name"] for c in info.columns]
    else:
        payload = api.process_csv(spark, truth.path, validate=True, drop_if_exists=True)
        name = payload["table_name"]
        validation = payload["validation"]
        types = {c["name"]: c["type"] for c in payload["columns"]}
        info = api.table_info(spark, name)
        info_rows = info["row_count"]
        info_cols = [c["name"] for c in info["columns"]]
    with tr.span("sources.query"):
        rows = spark.sql(group_sql(name)).collect()
    ttq = time.perf_counter() - t0
    with tr.span("sources.ctas"):
        spark.sql(f"CREATE TABLE `{name}_pq` USING parquet AS SELECT * FROM `{name}`")
        ctas_rows = spark.table(f"{name}_pq").count()
    with tr.span("api.list_tables"):
        listed = set(api.list_tables(spark)["tables"])
    with tr.span("api.drop_table"):
        api.drop_table(spark, name)
        api.drop_table(spark, f"{name}_pq")
    listed_after = set(api.list_tables(spark)["tables"])
    obs = IngestObservation(
        table=name,
        types=types,
        violations={k: int(v["type_violations"]) for k, v in validation["columns"].items()},
        validated_rows=int(validation["rows"]),
        info_rows=int(info_rows),
        info_columns=info_cols,
        groups={r["category"]: (int(r["n"]), int(r["cents"] or 0)) for r in rows},
        ctas_rows=int(ctas_rows),
        listed=listed,
        listed_after_drop=listed_after,
    )
    return obs, ttq


def stage_upload(src: CsvTruth, dest_dir: str, stem: str) -> CsvTruth:
    """Copy a generated file to the path the upload op reads, keeping its
    ground truth.  The re-upload op stages two versions of one file at
    the same path."""
    dest = os.path.join(dest_dir, f"{stem}.csv")
    shutil.copyfile(src.path, dest)
    return replace(src, path=dest, table=stem)
