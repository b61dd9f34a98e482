#!/usr/bin/env python3
"""Repository benchmark: one workload per process, closed loop, one client.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  The run generates its inputs from
`--seed` under `.perfbench/` in the checkout, sets the session up five
times (the median is `setup_s`), runs one first pass, then a number of
steady passes set by `--seconds`, and checks every output outside the
timed windows.  `--trace 1` records spans around the calls into each layer
and prints the per-layer metrics instead of the end-to-end ones.
`--workload all` runs every workload in its own process and prints all
of their metrics.

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
See perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
from contextlib import nullcontext  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
from statistics import median  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import workloads as W  # noqa: E402
from spans import Tracer, job_group, self_times, tail  # noqa: E402

PKG = "data_warehouse_hive_spark"
WORKLOADS = ("olap", "ingest")
SETUPS = 5
# Steady passes per run = --seconds / the workload's nominal steady pass
# time on 4 cores, at least one (two when traced).  A fixed count keeps
# the sample set, and so the tail percentile, the same from run to run.
NOMINAL_PASS_S = {"olap": 2.4, "ingest": 12.0}
# olap runs at this generated scale; ingest generates a small star schema
# only for its tables.t probes and registry probes.
SF = {"olap": 0.01, "ingest": 0.001}
REUPLOAD_ROWS = 50_000
PROBE_CSV_ROWS = 2_000

END_TO_END = {
    "setup_s": "s", "first_pass_s": "s", "pass_s": "s", "op_p50_s": "s",
    "op_tail_s": "s", "time_to_query_s": "s",
}


def _rss_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of one process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _git_commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10,
                             env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)})
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool,
                 scratch: str) -> None:
        self.workload, self.seed, self.seconds, self.traced = workload, seed, seconds, traced
        self.scratch = scratch
        self.tr = Tracer(traced)
        self.rng = random.Random(seed)
        self.spark = None
        self.reg = None
        self.op_seq = 0
        self.check_s = 0.0
        self.setups: list[tuple[float, float, float, float]] = []

    # ------------------------------------------------------------ inputs
    def generate(self) -> float:
        t0 = time.perf_counter()
        self.sf_dir = os.path.join(self.scratch, "tables")
        gen.write_fixtures(self.sf_dir, SF[self.workload], self.seed)
        uploads = os.path.join(self.scratch, "generated")
        if self.workload == "olap":
            self.probe_csv = gen.write_csv(os.path.join(uploads, "probe.csv"), PROBE_CSV_ROWS,
                                           "|", self.seed, null_rate=0.1, violations=0,
                                           extra_col=False)
        else:
            self.files = gen.write_csv_files(uploads, self.seed)
            v2 = self.rng.randrange(2**31)
            self.reupload = (
                self.files[0],
                gen.write_csv(os.path.join(uploads, "reupload_v2.csv"), REUPLOAD_ROWS,
                              ",", v2, null_rate=0.1, violations=0, extra_col=True),
            )
        self.upload_dir = os.path.join(self.scratch, "uploads")
        os.makedirs(self.upload_dir, exist_ok=True)
        return time.perf_counter() - t0

    # ------------------------------------------------------------- setup
    def setup(self, since: float) -> None:
        """Import the package fresh, build the session, load the registry
        and warm up.  `since` is when the timed set-up began."""
        if self.spark is not None:
            self.spark.stop()
        for m in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
            del sys.modules[m]
        t0 = time.perf_counter()
        from data_warehouse_hive_spark.session import get_spark

        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            warehouse_dir=os.path.join(self.scratch, "warehouse"),
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(self.scratch, "local"),
                "spark.driver.extraJavaOptions":
                    f"-Dderby.system.home={os.path.join(self.scratch, 'derby')} "
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            },
        )
        t1 = time.perf_counter()
        from data_warehouse_hive_spark.registry import load_all

        self.reg = load_all()
        t2 = time.perf_counter()
        from data_warehouse_hive_spark import api

        if api.health(self.spark)["status"] != "healthy":
            raise RuntimeError("session is not healthy after set-up")
        if self.workload == "olap":
            W.run_registry_op(self.spark, self.reg[W.WARMUP_ID], self.sf_dir)
        t3 = time.perf_counter()
        self.setups.append((t3 - since, t1 - t0, t2 - t1, t3 - t2))

    # ---------------------------------------------------------------- ops
    def op_keys(self) -> list[str]:
        if self.workload == "olap":
            return list(W.OLAP_IDS)
        return [f"upload:{i}" for i in range(len(self.files))] + ["reupload"]

    def run_op(self, key: str, traced: bool, layer: dict, kind: str = "op") -> W.OpResult:
        """Time one op.  Its output check runs after the clock stops.
        Probes of bypassed layers are ops of kind "probe"."""
        self.op_seq += 1
        res = W.OpResult(op=key, seconds=0.0)
        checks: list = []
        t0 = time.perf_counter()
        try:
            with self.tr.span(kind, op=key) if traced else nullcontext():
                checks = self._op_body(key, traced, layer, res)
        except Exception as exc:  # an op that raises counts as failed; the run goes on
            res.error = f"{type(exc).__name__}: {exc}"[:500]
        res.seconds = time.perf_counter() - t0
        t1 = time.perf_counter()
        with self.tr.span("testing.check", op=key) if traced else nullcontext():
            for truth, obs in checks:
                res.problems += W.check_ingest(truth, obs)
        self.check_s += time.perf_counter() - t1
        return res

    def _op_body(self, key: str, traced: bool, layer: dict, res: W.OpResult) -> list:
        if key in self.reg:
            spec = self.reg[key]
            if traced:
                W.run_registry_op_traced(self.spark, spec, self.sf_dir, self.tr,
                                         self.op_seq, layer)
            else:
                W.run_registry_op(self.spark, spec, self.sf_dir)
            return []
        if key == "reupload":
            v1, v2 = self.reupload
            first = W.stage_upload(v1, self.upload_dir, "reupload")
            from data_warehouse_hive_spark import api

            api.process_csv(self.spark, first.path, validate=True, drop_if_exists=True)
            second = W.stage_upload(v2, self.upload_dir, "reupload")
            obs, ttq = W.ingest_file(self.spark, second, self.tr, layer, traced)
            res.time_to_query_s = ttq
            return [(second, obs)]
        truth = self.probe_csv if key == "probe:ingest" else self.files[int(key.split(":")[1])]
        staged = W.stage_upload(truth, self.upload_dir, truth.table)
        obs, ttq = W.ingest_file(self.spark, staged, self.tr, layer, traced)
        res.time_to_query_s = ttq
        return [(staged, obs)]

    def run_pass(self, traced: bool) -> dict:
        keys = self.op_keys()
        self.rng.shuffle(keys)
        layer: dict = {}
        i0 = len(self.tr.spans)
        t0 = time.perf_counter()
        results = [self.run_op(k, traced, layer) for k in keys]
        wall = time.perf_counter() - t0
        probes = self._probe_layers(layer) if traced else []
        return {"wall": wall, "results": results, "probes": probes, "layer": layer,
                "traced": traced, "spans": (i0, len(self.tr.spans))}

    def _probe_layers(self, layer: dict) -> list[W.OpResult]:
        """Traced passes only, after the pass clock stopped: time
        `tables.t` over every fixture, and call each layer this workload
        bypasses once, so every layer metric is measured on every run."""
        from data_warehouse_hive_spark import tables

        for name in tables.TABLES:
            group = f"pt{len(self.tr.spans)}"
            with job_group(self.spark, group), self.tr.span("tables.t", op=f"probe:{name}"):
                tables.t(self.spark, self.sf_dir, name)
            jobs = self.spark.sparkContext.statusTracker().getJobIdsForGroup(group)
            layer["tables.t_jobs"] = layer.get("tables.t_jobs", 0.0) + len(jobs) / len(tables.TABLES)
        probes = ["probe:ingest"] if self.workload == "olap" else W.PROBE_IDS
        return [self.run_op(key, True, layer, kind="probe") for key in probes]

    # ------------------------------------------------------------ main
    def execute(self) -> dict:
        load_start = os.getloadavg()
        gen_s = self.generate()
        setup_start = PROCESS_START + gen_s
        for i in range(SETUPS):
            self.setup(setup_start if i == 0 else time.perf_counter())
        t_setup = time.perf_counter()
        first = self.run_pass(self.traced)
        n_steady = max(2 if self.traced else 1,
                       round(self.seconds / NOMINAL_PASS_S[self.workload]))
        t0 = time.perf_counter()
        steady = [self.run_pass(self.traced and i % 2 == 0) for i in range(n_steady)]
        t_steady = time.perf_counter()
        olap_problems = self._check_olap()
        rss_mb = _rss_mb("self") + _rss_mb(
            self.spark._jvm.java.lang.ProcessHandle.current().pid())
        env = {
            "workload": self.workload, "seed": self.seed, "nproc": os.cpu_count(),
            "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "defaultParallelism": self.spark.sparkContext.defaultParallelism,
            "spark": self.spark.version, "git_commit": _git_commit(),
            "loadavg_start": [round(x, 2) for x in load_start],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "peak_rss_mb": round(rss_mb, 1),
            "op_median_s": {
                k: round(median([r.seconds for p in steady for r in p["results"] if r.op == k]), 3)
                for k in self.op_keys()},
            "pass_walls_s": [round(p["wall"], 3) for p in [first] + steady],
            "phase_s": {
                "generate": round(gen_s, 2),
                "setups": round(t_setup - setup_start, 2),
                "first_pass": round(first["wall"], 2),
                "steady": round(t_steady - t0, 2),
                "checks": round(self.check_s, 2),
            },
        }
        all_results = [r for p in [first] + steady for r in p["results"] + p["probes"]]
        failed = W.count_failed(all_results, olap_problems)
        out = {
            "env": env, "attempted": len(all_results), "failed": failed,
            "errors": sorted({f"{r.op}: {r.error or r.problems}" for r in all_results
                              if r.error or r.problems}
                             | {f"{k}: {v}" for k, v in olap_problems.items()})[:20],
        }
        if self.traced:
            out["metrics"] = self._layer_metrics(first, steady, olap_problems)
        else:
            out["metrics"] = self._end_to_end(first, steady, env)
        return out

    def _check_olap(self) -> dict[str, list[str]]:
        """Each olap id once, against its DuckDB oracle, after timing."""
        if self.workload != "olap":
            return {}
        from data_warehouse_hive_spark.testing import duckdb_connection

        t0 = time.perf_counter()
        con = duckdb_connection(self.sf_dir)
        out = {}
        with self.tr.span("testing.check", op="olap"):
            for name in W.OLAP_IDS:
                try:
                    problems = W.check_registry_op(self.spark, self.reg[name], self.sf_dir, con)
                except Exception as exc:  # a check that raises is a failed check
                    problems = [f"{type(exc).__name__}: {exc}"[:500]]
                if problems:
                    out[name] = problems
        con.close()
        self.check_s += time.perf_counter() - t0
        return out

    # --------------------------------------------------------- metrics
    def _end_to_end(self, first: dict, steady: list[dict], env: dict) -> dict:
        ops = [r.seconds for p in steady for r in p["results"]]
        tail_s, tail_pct, n = tail(ops)
        env["op_tail_percentile"], env["op_samples"] = round(tail_pct, 2), n
        if self.workload == "ingest":
            ttq = median([r.time_to_query_s for p in steady for r in p["results"]
                          if r.time_to_query_s is not None])
        else:
            ttq = median([r.seconds for p in steady for r in p["results"]
                          if r.op == W.FIRST_AGGREGATE_ID])
        values = {
            "setup_s": median([s[0] for s in self.setups]),
            "first_pass_s": first["wall"],
            "pass_s": median([p["wall"] for p in steady]),
            "op_p50_s": median(ops),
            "op_tail_s": tail_s,
            "time_to_query_s": ttq,
        }
        return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}

    def _layer_metrics(self, first: dict, steady: list[dict], olap_problems: dict) -> dict:
        spans = self.tr.spans
        st = self_times(spans)
        cores = self.spark.sparkContext.defaultParallelism
        traced = [p for p in steady if p["traced"]]
        untraced = [p for p in steady if not p["traced"]]

        def per_pass(p: dict) -> dict[str, float]:
            i0, i1 = p["spans"]
            m: dict[str, float] = {}
            t_calls = []
            for s in spans[i0:i1]:
                if s.name == "op":
                    m["other_s"] = m.get("other_s", 0.0) + st[s.id]
                    m["trace.op_wall_s"] = m.get("trace.op_wall_s", 0.0) + s.end - s.start
                elif s.name == "tables.t":
                    t_calls.append((s.end - s.start) * 1e3)
                elif s.name == "api.process_csv":
                    m["api.process_csv_s"] = m.get("api.process_csv_s", 0.0) + s.end - s.start
                elif s.name in ("probe", "plans", "testing.check"):
                    continue
                else:
                    key = f"{s.name}_s"
                    m[key] = m.get(key, 0.0) + st[s.id]
            m["tables.t_ms"] = median(t_calls)
            for k, v in p["layer"].items():
                m[k] = m.get(k, 0.0) + v
            for pkg in W.PACKAGES:
                run_s = m.pop(f"{pkg}.run_s", 0.0)
                ex = m.get(f"{pkg}.exec_s", 0.0)
                m[f"{pkg}.core_busy_ratio"] = run_s / (ex * cores) if ex > 0 else 0.0
            build = m.get("registry.build_s", 0.0)
            m["registry.build_share"] = build / m["trace.op_wall_s"]
            return m

        passes = [per_pass(p) for p in traced]
        metrics: dict[str, float] = {}
        for name in PER_LAYER:
            vals = [pm.get(name, 0.0) for pm in passes]
            metrics[name] = median(vals)
        for i, label in enumerate(("session.get_spark_s", "session.load_all_s",
                                   "session.warmup_s"), start=1):
            metrics[label] = median([s[i] for s in self.setups])
        memo_first, memo_repeat = _memo_times(spans)
        metrics["extensions.memo_first_s"] = memo_first
        metrics["extensions.memo_repeat_s"] = memo_repeat
        metrics["testing.check_s"] = self.check_s
        metrics["testing.check_failed"] = float(
            len(olap_problems) + sum(1 for p in [first] + steady for r in p["results"]
                                     if r.problems))
        metrics["trace.overhead_s"] = (
            median([pm["trace.op_wall_s"] for pm in passes])
            - median([p["wall"] for p in untraced]))
        return {k: {"value": v, "unit": PER_LAYER[k]} for k, v in metrics.items()}


def _memo_times(spans) -> tuple[float, float]:
    """Op wall time of each memoized id on its first traced call, and the
    median of its later calls; summed over the memoized ids."""
    calls: dict[str, list[float]] = {}
    for s in spans:
        if s.name in ("op", "probe") and s.op in W.MEMO_IDS:
            calls.setdefault(s.op, []).append(s.end - s.start)
    first = sum(c[0] for c in calls.values())
    repeat = sum(median(c[1:]) for c in calls.values() if len(c) > 1)
    return first, repeat


def _per_layer_units() -> dict[str, str]:
    units = {
        "session.get_spark_s": "s", "session.load_all_s": "s", "session.warmup_s": "s",
        "tables.t_ms": "ms", "tables.t_jobs": "count",
        "registry.build_s": "s", "registry.build_jobs": "count", "registry.build_share": "ratio",
        "plans.analysis_s": "s", "plans.optimization_s": "s", "plans.planning_s": "s",
    }
    for pkg in W.PACKAGES:
        units.update({
            f"{pkg}.exec_s": "s", f"{pkg}.jobs": "count", f"{pkg}.tasks": "count",
            f"{pkg}.failed_tasks": "count", f"{pkg}.task_cpu_s": "s",
            f"{pkg}.input_mb": "MB", f"{pkg}.shuffle_write_mb": "MB",
            f"{pkg}.core_busy_ratio": "ratio",
        })
    units.update({
        "extensions.memo_first_s": "s", "extensions.memo_repeat_s": "s",
        "testing.check_s": "s", "testing.check_failed": "count",
        "sources.infer_s": "s", "sources.validate_s": "s", "sources.register_s": "s",
        "sources.table_info_s": "s", "sources.query_s": "s", "sources.ctas_s": "s",
        "sources.jobs": "count",
        "api.process_csv_s": "s", "api.list_tables_s": "s", "api.drop_table_s": "s",
        "other_s": "s", "trace.op_wall_s": "s", "trace.overhead_s": "s",
    })
    return units


PER_LAYER = _per_layer_units()


def _stop(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    if spark is None:
        return
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_one(args) -> int:
    scratch = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), scratch)
    try:
        out = run.execute()
        if args.trace:
            run.tr.write(os.path.join(ROOT, ".perfbench",
                                      f"spans-{args.workload}-{args.seed}.json"))
    finally:
        _stop(run.spark)
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(out["env"]))
    for err in out["errors"]:
        print(f"FAILED {err}")
    print(f"failed_ratio = {out['failed'] / out['attempted']:.4f} ratio "
          f"({out['failed']} of {out['attempted']} ops)")
    for name, m in out["metrics"].items():
        print(f"{args.workload}.{name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": out["failed"] == 0, "attempted": out["attempted"],
        "failed": out["failed"], "metrics": out["metrics"],
    }))
    return 0


def run_all(args) -> int:
    """Every workload in its own process; prints each child's output and
    a combined result line."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for wl in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl, "--seed",
               str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        sys.stdout.write(proc.stdout)
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-4000:])
            return proc.returncode
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            combined["metrics"][f"{wl}.{k}"] = v
    print(json.dumps(combined))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: {PKG}/ is missing from {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
