"""Tests of the benchmark's own logic; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import os
import random
import shutil
import subprocess
import sys
from types import SimpleNamespace

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import workloads as W  # noqa: E402
from spans import Span, Tracer, self_times, tail  # noqa: E402


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    uploads = [(1500, ",", 0.1, 3), (3000, "\t", 0.0, 0)]
    a = gen.write_csv_files(str(tmp_path / "a"), 7, uploads)
    b = gen.write_csv_files(str(tmp_path / "b"), 7, uploads)
    c = gen.write_csv_files(str(tmp_path / "c"), 8, uploads)
    for x, y in zip(a, b):
        assert filecmp.cmp(x.path, y.path, shallow=False)
        assert (x.groups, x.violations, x.delimiter) == (y.groups, y.violations, y.delimiter)
    assert any(not filecmp.cmp(x.path, z.path, shallow=False) for x, z in zip(a, c))
    gen.write_fixtures(str(tmp_path / "fa"), 0.0005, 3)
    gen.write_fixtures(str(tmp_path / "fb"), 0.0005, 3)
    same, diff, err = filecmp.cmpfiles(
        tmp_path / "fa", tmp_path / "fb", sorted(os.listdir(tmp_path / "fa")), shallow=False)
    assert not diff and not err and len(same) == 10


def test_csv_ground_truth_matches_the_file(tmp_path):
    truth = gen.write_csv(str(tmp_path / "t.csv"), 2500, ";", 5, null_rate=0.2,
                          violations=17, extra_col=True)
    df = pd.read_csv(truth.path, sep=";", dtype=str, keep_default_na=False)
    assert len(df) == truth.rows and list(df.columns) == list(truth.types)
    assert (df["qty"] == "n/a").sum() == truth.violations["qty"] == 17
    assert not (df["qty"].head(1000) == "n/a").any()  # the inference sample stays clean
    for cat, (n, cents) in truth.groups.items():
        sub = df[df["category"] == cat]
        amounts = sub["amount"][sub["amount"] != ""]
        assert len(sub) == n
        assert sum(round(float(a) * 100) for a in amounts) == cents


@pytest.mark.parametrize("n", [11, 12, 37, 100, 1000])
def test_tail_keeps_ten_samples_beyond(n):
    rng = random.Random(n)
    xs = [rng.random() for _ in range(n)]
    value, pct, count = tail(xs)
    assert count == n
    assert sum(1 for x in xs if x > value) == 10
    assert pct == pytest.approx(100.0 * (n - 10) / n)
    # no higher sample would still leave ten beyond it
    assert sum(1 for x in xs if x > min(x for x in xs if x > value)) < 10


def test_tail_of_few_samples_is_the_maximum():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def test_self_time_on_nested_spans():
    spans = [
        Span(0, "op", 0.0, 10.0, None, "q"),
        Span(1, "registry.build", 1.0, 4.0, 0, "q"),
        Span(2, "tables.t", 1.5, 2.0, 1, "q"),
        Span(3, "operators.exec", 5.0, 9.0, 0, "q"),
        Span(4, "op", 10.0, 11.0, None, "r"),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 3.0 - 4.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(0.5)
    assert st[3] == pytest.approx(4.0)
    assert st[4] == pytest.approx(1.0)
    # self times of a tree add up to the root's wall time
    assert st[0] + st[1] + st[2] + st[3] == pytest.approx(10.0)


def test_tracer_records_parent_and_op():
    tr = Tracer(True)
    with tr.span("op", op="q1"):
        with tr.span("registry.build"):
            pass
    with tr.span("op", op="q2"):
        pass
    assert [(s.name, s.parent, s.op) for s in tr.spans] == [
        ("op", None, "q1"), ("registry.build", 0, "q1"), ("op", None, "q2")]
    assert all(s.end >= s.start for s in tr.spans)
    off = Tracer(False)
    with off.span("op", op="q"):
        pass
    assert off.spans == []


class _FakeFrame:
    """Stands in for a Spark DataFrame in the oracle compare."""

    def __init__(self, pdf: pd.DataFrame) -> None:
        self._pdf = pdf

    def toPandas(self) -> pd.DataFrame:
        return self._pdf


def test_wrong_oracle_result_counts_as_failed():
    import duckdb

    con = duckdb.connect()
    frame = _FakeFrame(pd.DataFrame({"x": [1, 2]}))
    right = SimpleNamespace(name="q_ok", fn=lambda spark, sf: frame,
                            oracle="SELECT * FROM (VALUES (1), (2)) t(x)")
    wrong = SimpleNamespace(name="q_bad", fn=lambda spark, sf: frame,
                            oracle="SELECT * FROM (VALUES (1), (3)) t(x)")
    assert W.check_registry_op(None, right, "", con) == []
    problems = W.check_registry_op(None, wrong, "", con)
    assert problems
    results = [W.OpResult("q_ok", 0.1), W.OpResult("q_bad", 0.1), W.OpResult("q_bad", 0.2),
               W.OpResult("q_ok", 0.1, error="Boom")]
    assert W.count_failed(results, {"q_bad": problems}) == 3


def test_wrong_ingest_result_counts_as_failed(tmp_path):
    truth = gen.write_csv(str(tmp_path / "u.csv"), 1200, ",", 1, null_rate=0.0,
                          violations=3, extra_col=False)
    good = W.IngestObservation(
        table="u", types=dict(truth.types), violations=dict(truth.violations),
        validated_rows=truth.rows, info_rows=truth.rows, info_columns=list(truth.types),
        groups=dict(truth.groups), ctas_rows=truth.rows, listed={"u", "u_pq"},
        listed_after_drop=set())
    assert W.check_ingest(truth, good) == []
    cat = next(iter(truth.groups))
    bad_groups = dict(truth.groups, **{cat: (truth.groups[cat][0], truth.groups[cat][1] + 1)})
    for bad in (
        dict(groups=bad_groups),
        dict(types=dict(truth.types, qty="string")),
        dict(violations=dict(truth.violations, qty=0)),
        dict(info_rows=truth.rows - 1),
        dict(listed_after_drop={"u"}),
    ):
        obs = W.IngestObservation(**{**good.__dict__, **bad})
        assert W.check_ingest(truth, obs), bad


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "olap", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
