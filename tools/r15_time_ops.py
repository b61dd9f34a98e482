#!/usr/bin/env python
"""Best-of-N timing of registry ids with the noop sink in ONE session —
the bench-child recipe (warm at sf0.001 first, then time at target SF).

Usage:
  python tools/r15_time_ops.py <repo_root> <sf_dir> <n_runs> <id> [...]
"""
from __future__ import annotations

import sys
import time

root, sf_dir, n_runs = sys.argv[1], sys.argv[2], int(sys.argv[3])
ids = sys.argv[4:]
sys.path.insert(0, root)

from data_warehouse_hive_spark.registry import load_all  # noqa: E402
from data_warehouse_hive_spark.session import get_spark  # noqa: E402


def _force(df):
    df.write.format("noop").mode("overwrite").save()


spark = get_spark(app_name="r15-time-ops")
registry = load_all()
for name in ids:
    _force(registry[name].fn(spark, "/root/testdata/sf0.001"))  # warm
for name in ids:
    runs = []
    for _ in range(n_runs):
        spark.sparkContext.setJobDescription(f"time:{name}")
        t0 = time.perf_counter()
        _force(registry[name].fn(spark, sf_dir))
        runs.append(time.perf_counter() - t0)
    print(f"{name}: best={min(runs):.3f}s runs={[round(r,3) for r in runs]}",
          flush=True)
