"""The benchmark's own tests: a small run of every workload through the
command line, the failure accounting, the determinism record and
BENCHMARK.json against the benchmark contract.

    python3 -m pytest perfbench/tests -q

The command-line runs start a JVM each (about half a minute apiece).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import spec  # noqa: E402
from perfbench.run import Tally, code_version, guard_counts  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

SMALL = ["--seed", "3", "--seconds", "1", "--scale", "0.05"]


def _cli(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", spec.WORKLOADS)
def test_small_run_prints_every_end_to_end_metric(workload):
    res = _result(_cli(["--workload", workload, "--trace", "0", *SMALL]))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == set(spec.END_TO_END)
    for name, unit in spec.END_TO_END.items():
        assert res["metrics"][name]["unit"] == unit
        assert res["metrics"][name]["value"] > 0, name


def test_traced_run_prints_every_per_layer_metric_and_writes_spans():
    out = os.path.join(ROOT, ".perfbench_out")
    before = set(os.listdir(out)) if os.path.isdir(out) else set()
    res = _result(_cli(["--workload", "scan", "--trace", "1", *SMALL]))
    assert res["correct"] is True and res["failed"] == 0
    assert set(res["metrics"]) == set(spec.PER_LAYER)
    for name, unit in spec.PER_LAYER.items():
        assert res["metrics"][name]["unit"] == unit
        assert res["metrics"][name]["value"] > 0, name
    new = sorted(set(os.listdir(out)) - before)
    spans = [f for f in new if f.startswith("spans-scan-") and f.endswith(".jsonl")]
    assert spans, new
    with open(os.path.join(out, spans[0])) as f:
        first = json.loads(f.readline())
    assert set(first) == {"id", "name", "start", "end", "parent", "run_id"}


def test_corrupted_expected_fingerprint_counts_as_failed(monkeypatch, tmp_path):
    from perfbench import run
    from perfbench.workloads import OFF

    for var in ("TMPDIR", "SPARK_LOCAL_DIRS", "SPARK_GRAFT_DRIVER_MEM", "PYTHONPATH"):
        monkeypatch.setenv(var, os.environ.get(var, ""))
    work = str(tmp_path / "work")
    run.sandbox(work)
    spark, _ = run.start_spark(work)
    try:
        wl = run.build("scan", spark, work, seed=3, scale=0.05)
        good = Tally()
        run.closed_loop(wl, 0.1, [OFF], good)
        assert good.attempted >= 1 and good.failed == 0
        n, x = wl.expected
        wl.expected = (n, x ^ 1)
        bad = Tally()
        run.closed_loop(wl, 0.1, [OFF], bad)
        assert bad.attempted >= 1 and bad.failed == bad.attempted
    finally:
        run.stop_spark(spark)


def test_dedup_check_fails_on_a_wrong_cluster_label(monkeypatch, tmp_path):
    from pyspark.sql import functions as F

    from hadoop_etl_udfs_spark.operators.dedup import (
        duplicate_clusters_star,
        lsh_band_pairs,
        minhash_signatures,
    )
    from perfbench import run

    for var in ("TMPDIR", "SPARK_LOCAL_DIRS", "SPARK_GRAFT_DRIVER_MEM", "PYTHONPATH"):
        monkeypatch.setenv(var, os.environ.get(var, ""))
    work = str(tmp_path / "work")
    run.sandbox(work)
    spark, _ = run.start_spark(work)
    try:
        dd = run.build("dedup", spark, work, seed=3, scale=0.05)
        pairs = lsh_band_pairs(minhash_signatures(dd.corpus)).localCheckpoint()
        stats: dict = {}
        clusters = duplicate_clusters_star(pairs, stats=stats).localCheckpoint()
        together, problems = dd.check(pairs, clusters, stats)
        assert problems == [] and together >= 1
        victim = clusters.agg(F.max("doc_id")).collect()[0][0]
        wrong = clusters.withColumn(
            "cluster_rep",
            F.when(F.col("doc_id") == victim, F.col("cluster_rep") + 1).otherwise(F.col("cluster_rep")),
        )
        _, problems = dd.check(pairs, wrong, stats)
        assert any("connected components" in p for p in problems), problems
    finally:
        run.stop_spark(spark)


def test_outside_a_checkout_exits_nonzero_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = _cli(["--workload", "ingest", "--trace", "0", *SMALL], cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not proc.stdout.strip()


def test_determinism_guard_fails_on_drift(tmp_path):
    path = str(tmp_path / "counts.json")
    assert guard_counts(path, {"chunks": 8, "stored_bytes": 100}) == []
    assert guard_counts(path, {"chunks": 8, "stored_bytes": 100}) == []
    assert guard_counts(path, {"chunks": 8, "stored_bytes": 101})


def test_determinism_record_is_kept_per_code_version(tmp_path):
    for top in ("hadoop_etl_udfs_spark", "perfbench"):
        (tmp_path / top).mkdir()
        (tmp_path / top / "m.py").write_text("x = 1\n")
    before = code_version(str(tmp_path))
    (tmp_path / "hadoop_etl_udfs_spark" / "notes.txt").write_text("not code")
    assert code_version(str(tmp_path)) == before
    (tmp_path / "hadoop_etl_udfs_spark" / "m.py").write_text("x = 2\n")
    assert code_version(str(tmp_path)) != before


def test_tracer_self_time_excludes_children():
    t = Tracer("r1")
    with t.span("outer"):
        with t.span("inner"):
            pass
        with t.span("inner"):
            pass
    rows = {r["name"]: r for r in t.table()}
    assert rows["inner"]["calls"] == 2
    outer = t.spans[0]
    inner = sum(s.seconds for s in t.spans[1:])
    assert rows["outer"]["self_s"] == pytest.approx(outer.seconds - inner)
    assert all(s.parent == 0 and s.run_id == "r1" for s in t.spans[1:])
    off = Tracer("r2", enabled=False)
    with off.span("x") as s:
        assert s is None
    assert off.spans == []


def test_benchmark_json_meets_the_contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert b["paths"] == ["perfbench"] and b["command"] == ["python3", "perfbench/run.py"]
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"] + b["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n), n
    for m in b["end_to_end"] + b["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m
        assert m["better"] in ("higher", "lower")
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    assert max(bounds.values()) == bounds["setup_s"]
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in b["workloads"])
    # every per-layer metric says which end-to-end metric it should move
    assert set(spec.MOVES) == set(spec.PER_LAYER)
