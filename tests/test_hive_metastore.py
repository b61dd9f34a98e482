"""Hive-metastore persistence round-trip (the BASELINE approach line:
"Spark SQL over Hive metastore + Parquet").

A table created under `get_spark(enable_hive=True)` must survive the
session: a BRAND-NEW session in a different OS process (one JVM per
process — the only honest way to prove cross-session persistence) must
see it in the catalog, read the same rows, and report the right
managed/external split via DESCRIBE FORMATTED — matching the reference's
behavior (backend/hive_manager.py:386-418: DESCRIBE + COUNT(*) +
'EXTERNAL' scrape against a long-lived metastore).

Locally the metastore is embedded Derby pinned to a temp dir via
javax.jdo.option.ConnectionURL; in production the same conf key points
at Postgres/MySQL — nothing else changes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_WRITER = """
import json, sys
sys.path.insert(0, {repo!r})
from data_warehouse_hive_spark.session import get_spark
from data_warehouse_hive_spark.sources.csv_ingest import ingest_csv

spark = get_spark(
    app_name="hive-rt-writer", master="local[2]", enable_hive=True,
    warehouse_dir={wh!r},
    extra_conf={{
        "spark.hadoop.javax.jdo.option.ConnectionURL":
            "jdbc:derby:;databaseName={ms};create=true",
    }},
)
region = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
region.write.mode("overwrite").saveAsTable("hive_rt_managed")

with open({csv!r}, "w") as f:
    f.write("id,name\\n1,a\\n2,b\\n3,c\\n")
res = ingest_csv(spark, {csv!r}, "hive_rt_external")
ingest_csv(spark, {csv!r}, "hive_rt_stats", validate=True)

print("WRITER:" + json.dumps({{"n_region": region.count(),
                               "ext_table": res.table_name}}))
spark.stop()
"""

_READER = """
import json, sys
sys.path.insert(0, {repo!r})
from data_warehouse_hive_spark.session import get_spark
from data_warehouse_hive_spark.sources import catalog as cat

spark = get_spark(
    app_name="hive-rt-reader", master="local[2]", enable_hive=True,
    warehouse_dir={wh!r},
    extra_conf={{
        "spark.hadoop.javax.jdo.option.ConnectionURL":
            "jdbc:derby:;databaseName={ms};create=true",
    }},
)
out = {{
    "managed_exists": cat.table_exists(spark, "hive_rt_managed"),
    "external_exists": cat.table_exists(spark, "hive_rt_external"),
}}
m = cat.table_info(spark, "hive_rt_managed")
e = cat.table_info(spark, "hive_rt_external")
sc = spark.sparkContext
sc.setJobGroup("stats", "stats")
s = cat.table_info(spark, "hive_rt_stats")
sc.setLocalProperty("spark.jobGroup.id", None)
out.update(
    managed_rows=m.row_count, managed_is_external=m.is_external,
    external_rows=e.row_count, external_is_external=e.is_external,
    external_has_location=e.location is not None,
    managed_cols=[c["col_name"] for c in m.columns],
    stats_rows=s.row_count,
    stats_jobs=len(sc.statusTracker().getJobIdsForGroup("stats")),
)
print("READER:" + json.dumps(out))
spark.stop()
"""


def _run(code: str) -> dict:
    proc = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = [l for l in proc.stdout.splitlines() if ":" in l and l.split(":")[0] in ("WRITER", "READER")][-1]
    return json.loads(line.split(":", 1)[1])


def test_hive_metastore_roundtrip(tmp_path):
    wh = str(tmp_path / "warehouse")
    ms = str(tmp_path / "metastore_db")
    csv = str(tmp_path / "ext_data.csv")

    w = _run(_WRITER.format(repo=REPO, wh=wh, ms=ms, csv=csv))
    assert w["n_region"] == 5
    assert w["ext_table"] == "hive_rt_external"

    r = _run(_READER.format(repo=REPO, wh=wh, ms=ms))
    # catalog persisted across JVMs
    assert r["managed_exists"] and r["external_exists"]
    # managed: engine-owned parquet, full rows back
    assert r["managed_rows"] == 5 and not r["managed_is_external"]
    assert r["managed_cols"] == ["r_regionkey", "r_name"]
    # external: metadata-only registration over the CSV left in place
    assert r["external_rows"] == 3 and r["external_is_external"]
    assert r["external_has_location"]
    # ingest-time stats persist with the table: its count scans nothing
    assert r["stats_rows"] == 3 and r["stats_jobs"] == 0
    # external semantics: data file untouched by everything above
    assert os.path.exists(csv)
