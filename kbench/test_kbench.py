"""Self-tests of the benchmark: ``python -m pytest -q kbench`` from the
repo root. The ``test_run_*`` and ``test_curate_*`` tests start Spark and
take a few minutes."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
from collections import Counter

import pytest

from kbench import stats, trace
from kbench.corpus import levenshtein1, value_hash
from kbench.dsl import cdiv, wrap32, wrap32_np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- percentiles -------------------------------------------------------------

def test_tail_needs_100_samples():
    assert stats.tail(list(range(99))) is None
    vals = list(range(1, 101))
    assert stats.tail(vals) == pytest.approx(90.1)
    # 10 samples lie beyond the p90 of 100
    assert sum(v > stats.tail(vals) for v in vals) == 10


def test_kind_mean_weighs_kinds_equally():
    assert stats.kind_mean({"a": [1, 100, 1], "b": [4]}) == pytest.approx(2.0)
    assert stats.kind_mean({}) is None


# -- job attribution -----------------------------------------------------------

def _job(jid, submit, end, stages, execution=None):
    props = {"spark.sql.execution.id": str(execution)} if execution is not None else {}
    return [{"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": submit,
             "Stage IDs": stages, "Properties": props},
            {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end}]


def _task(stage, run_ms, read=0, shuffle=0, accums=()):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Accumulables": [{"ID": i, "Name": n, "Update": u}
                                           for i, n, u in accums]},
            "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": 1,
                             "Input Metrics": {"Bytes Read": read},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}


def test_jobs_go_to_the_window_holding_their_submit_time():
    windows = [(1000, 2000, "q1"), (2500, 4000, "q2")]
    events = (_job(0, 1100, 1500, [0, 1]) + _job(1, 2200, 2300, [2])
              + _job(2, 3000, 3900, [3, 1]) + _job(3, 500, 600, [4]))
    events += [_task(0, 100, read=10), _task(1, 50, shuffle=7), _task(2, 40),
               _task(3, 30, read=5), _task(3, 30, read=5), _task(4, 99)]
    per, unattributed, attributed = trace.spark_by_request(events, windows)
    assert per["q1"]["jobs"] == 1 and per["q1"]["tasks"] == 2
    assert per["q1"]["task_ms"] == 150 and per["q1"]["scan_bytes"] == 10
    assert per["q1"]["shuffle_bytes"] == 7
    # stage 1 ran under job 0: its reuse by job 2 adds no tasks to q2
    assert per["q2"]["jobs"] == 1 and per["q2"]["tasks"] == 2 and per["q2"]["stages"] == 1
    # job 1 fell between the windows; job 3 was before the measured phase
    assert unattributed == 40
    assert attributed == 210
    # q1: 1000 ms wall, job busy 1100..1500
    assert per["q1"]["driver_gap_ms"] == 600


def test_attribute_boundaries():
    windows = [(0, 10, "a"), (20, 30, "b")]
    assert trace.attribute(0, windows) == "a"
    assert trace.attribute(10, windows) == "a"
    assert trace.attribute(15, windows) is None
    assert trace.attribute(30, windows) == "b"
    assert trace.attribute(-1, windows) is None


# -- structural node counts ------------------------------------------------------

def _node(name, ids=(), children=(), simple=""):
    return {"nodeName": name, "simpleString": simple or name,
            "metrics": [{"name": "number of output rows" if i == ids[-1] else f"m{i}",
                         "accumulatorId": i} for i in ids],
            "children": list(children)}


def _cached_plan():
    """An AQE plan whose cached subtree (under InMemoryTableScan) holds a
    Python eval and an exchange, and whose upper stage lists one shuffle
    stage twice, as Spark's SparkPlanInfo does."""
    py = _node("ArrowEvalPython", (56, 61), [_node("Scan parquet ", (70,))])
    cached = _node("InMemoryTableScan", (135,),
                   [_node("Exchange", (80, 81), [py])])
    stage = _node("ShuffleQueryStage", (), [_node("Exchange", (355, 356), [
        _node("BroadcastHashJoin", (364,), [
            cached,
            _node("BroadcastQueryStage", (), [_node("BroadcastExchange", (219, 220), [
                _node("Scan parquet ", (144,))])])])])])
    return _node("AdaptiveSparkPlan", (), [
        _node("HashAggregate", (403,), [_node("ShuffleQueryStage", (), [
            _node("Exchange", (429, 430), [_node("AQEShuffleRead", (444,), [stage])])])]),
        _node("ReusedExchange", (500,), [stage]),
    ], simple="AdaptiveSparkPlan Exchange Exchange Exchange")


def test_nodes_counted_once():
    counts, seen, py_rows = Counter(), set(), set()
    plan = _cached_plan()
    trace.count_nodes(plan, seen, counts, py_rows)
    assert counts == {"exchanges": 3, "broadcasts": 1, "scans": 2, "python": 1}
    assert py_rows == {61}
    # a second execution over the same cached frame adds nothing
    trace.count_nodes(plan, seen, counts, py_rows, scope=2)
    assert counts["exchanges"] == 3
    # substring counting over the plan text is what this replaces
    assert json.dumps(plan).count("Exchange") > 3


def test_plan_counts_reach_requests():
    windows = [(0, 100, "q")]
    events = _job(0, 10, 50, [0], execution=7) + [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 7, "sparkPlanInfo": _node("Exchange", (1,))},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
         "executionId": 7, "sparkPlanInfo": _cached_plan()},
        _task(0, 5, accums=[(60, "time to run Python workers", "12"), (61, "rows", "300")]),
    ]
    per, _u, _a = trace.spark_by_request(events, windows)
    assert per["q"]["exchanges"] == 3  # the final AQE plan only
    assert per["q"]["python_eval_ms"] == 12 and per["q"]["python_rows"] == 300


# -- names -----------------------------------------------------------------------

def test_benchmark_json_matches_what_runs_emit():
    from kbench.run import WORKLOADS

    bench = _benchmark()
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == stats.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == stats.per_layer_units()
    assert all(stats.moves(m["name"]) for m in bench["per_layer"])


def test_names_and_units_are_well_formed():
    bench = _benchmark()
    names = ([w["name"] for w in bench["workloads"]]
             + [m["name"] for m in bench["end_to_end"] + bench["per_layer"]])
    assert len(names) == len(set(names))
    for n in names:
        assert stats.NAME_RE.fullmatch(n) and len(n) <= 64, n
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


# -- helpers ---------------------------------------------------------------------

def test_c_int32_rules():
    assert wrap32(2**31) == -(2**31) and wrap32(-(2**31) - 1) == 2**31 - 1
    assert list(wrap32_np(__import__("numpy").array([2**31, -5, 2**32 + 3]))) == [-(2**31), -5, 3]
    assert cdiv(-7, 2) == -3 and cdiv(7, -2) == -3 and cdiv(7, 2) == 3


def test_levenshtein1():
    assert levenshtein1("join", "joib") and levenshtein1("join", "jon")
    assert levenshtein1("join", "joins") and not levenshtein1("join", "jion")


def test_value_hash_ignores_order():
    assert value_hash([(1, "a"), (2, "b")]) == value_hash([(2, "b"), (1, "a")])
    assert value_hash([(1, "a")]) != value_hash([(1, "b")])


def test_inputs_are_seeded():
    from kbench import inputs

    a, b = inputs.dsl_tables(5), inputs.dsl_tables(5)
    assert all((a["r"][c] == b["r"][c]).all() for c in ("ra", "rc", "rd"))
    assert not (inputs.dsl_tables(6)["r"]["ra"] == a["r"]["ra"]).all()
    assert (a["r"]["rc"][: int(inputs.NUMR * 0.75)] <= 9).all()
    d1, _ = inputs.corpus_frames(5)
    d2, _ = inputs.corpus_frames(5)
    assert d1.equals(d2)
    assert not d1.equals(inputs.corpus_frames(6)[0])


def test_corpus_has_the_measured_shape():
    from kbench import inputs

    docs, embs = inputs.corpus_frames(5)
    toks = [t.split(" ") for t in docs["text"]]
    base = Counter(t.split("_")[0] for ts in toks for t in ts)
    assert set(base) == set(inputs.WORDS) | {inputs.RARE}
    assert all(inputs.LEN_LO <= len(ts) <= inputs.LEN_HI + 3 for ts in toks)
    copies = sum(ts[-1].split("_")[0] == inputs.RARE for ts in toks)
    assert copies == inputs.N_DOCS * inputs.NEAR_SHARE
    assert (docs["n_chars"] == docs["text"].str.len()).all()
    assert len(embs) == inputs.N_VECS and len(embs["embedding"][0]) == inputs.DIM


# -- end to end --------------------------------------------------------------------

def _git_status() -> str:
    return subprocess.run(["git", "-C", ROOT, "status", "--porcelain"],
                          capture_output=True, text=True).stdout


@pytest.mark.parametrize("workload", ["dsl_mixed", "corpus_mixed"])
@pytest.mark.parametrize("traced", [0, 1])
def test_run_emits_every_metric(workload, traced):
    before = _git_status()
    p = subprocess.run([sys.executable, "kbench/run.py", "--workload", workload,
                        "--seed", "7", "--seconds", "1", "--trace", str(traced)],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, p.stdout[-3000:]
    bench = _benchmark()
    want = bench["per_layer" if traced else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    for m in want:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if traced:
        assert result["metrics"]["spark.unattributed_share"]["value"] <= 0.05
        if workload == "dsl_mixed":  # the insert burst reaches the compaction threshold
            assert result["metrics"]["catalog.compactions"]["value"] > 0
    else:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    assert os.listdir(os.path.join(ROOT, ".kbench", "tmp")) == []
    assert _git_status() == before


def test_without_the_program_exits_nonzero(tmp_path):
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "kbench"), tmp_path / "kbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "kbench/run.py", "--workload", "dsl_mixed",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=170)
    assert p.returncode != 0 and p.stdout == ""


def test_curate_matches_its_sql_oracle(tmp_path, monkeypatch):
    """The exact curate check the per-run invariants stand in for."""
    import duckdb

    from kbench import inputs
    from kstore_spark.functions import pipeline
    from kstore_spark.session import get_spark

    sf = inputs.write_corpus_inputs(str(tmp_path), 7)
    monkeypatch.setenv("KSTORE_ARTIFACTS_DIR", str(tmp_path / "artifacts"))
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    monkeypatch.setenv("PYTHONPATH", ROOT)
    spark = get_spark("kbench-selftest")
    try:
        frame = pipeline.curate_survivors(spark, sf)
        got = value_hash(tuple(r) for r in frame.collect())
        frame.unpersist()
    finally:
        spark.stop()
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(sf, 'documents.parquet', '*.parquet')}')")
    want = value_hash(con.execute(pipeline.CURATE_SURVIVORS_SQL).fetchall())
    assert got == want and got[0] > 0
