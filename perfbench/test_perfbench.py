"""The benchmark's own checks.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

The generator and fingerprint checks take seconds; each smoke run starts
one Spark process on a tiny seeded input (about a minute each).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from harness import fingerprint, read_event_log  # noqa: E402
from run import timed_iterations  # noqa: E402
from workloads import HouseholdETL, IndexIngest, min_label_components  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _household_bytes(out_dir, seed: int) -> dict[str, bytes]:
    paths = gen.household_inputs(str(out_dir), seed, 300)
    return {k: open(p, "rb").read() for k, p in paths.items()}


def test_household_generator_is_seeded(tmp_path):
    a = _household_bytes(tmp_path / "a", 7)
    b = _household_bytes(tmp_path / "b", 7)
    c = _household_bytes(tmp_path / "c", 8)
    assert a == b
    assert all(a[k] != c[k] for k in a)
    tx = a["transactions"].decode()
    assert gen.CAMPAIGN_START in tx and gen.CAMPAIGN_END in tx
    assert "noValue" in a["demographics"].decode()


@pytest.mark.parametrize("make", [gen.documents_table, gen.embeddings_table])
def test_corpus_generators_are_seeded(make):
    a, b, c = make(3, 400), make(3, 400), make(4, 400)
    assert isinstance(a, pa.Table) and a.num_rows == 400
    assert a.equals(b)
    assert not a.equals(c)


def test_fingerprint_ignores_row_and_column_order():
    rows = [(1, "a", 0.5), (2, None, 1.5), (2, None, 1.5)]
    base = fingerprint(["k", "s", "x"], rows)
    shuffled = [(r[2], r[0], r[1]) for r in reversed(rows)]
    assert fingerprint(["x", "k", "s"], shuffled) == base
    assert fingerprint(["k", "s", "x"], rows[:2]) != base  # multiplicity counts


def test_min_label_components():
    got = sorted(min_label_components([1, 2, 3, 4, 5], [(4, 2), (2, 5)]))
    assert got == [(1, 1, True), (2, 2, True), (3, 3, True), (4, 2, False), (5, 2, False)]


def test_timed_iterations_are_fixed_by_seconds():
    for wl in (HouseholdETL(), IndexIngest()):
        assert timed_iterations(wl, 0) == 3
        assert timed_iterations(wl, 10) == timed_iterations(wl, 10) >= 3
    assert timed_iterations(IndexIngest(), 3600) == IndexIngest.MAX_BATCHES


def test_event_log_join_rows_come_from_join_nodes(tmp_path):
    sql = "org.apache.spark.sql.execution.ui."
    plan = {"nodeName": "Window", "metrics": [], "children": [{
        "nodeName": "ShuffledHashJoin", "children": [],
        "metrics": [{"name": "number of output rows", "accumulatorId": 7}]}]}
    replan = {"nodeName": "BroadcastHashJoin", "children": [],
              "metrics": [{"name": "number of output rows", "accumulatorId": 9}]}

    def task(*accs):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Info": {
            "Accumulables": [{"ID": i, "Name": "number of output rows", "Update": str(u)} for i, u in accs]},
            "Task Metrics": {}}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [1], "Submission Time": 0,
         "Properties": {"spark.sql.execution.id": "4", "spark.jobGroup.id": "s2"}},
        {"Event": sql + "SparkListenerSQLExecutionStart", "executionId": 4, "sparkPlanInfo": plan},
        {"Event": sql + "SparkListenerSQLAdaptiveExecutionUpdate", "executionId": 4, "sparkPlanInfo": replan},
        task((7, 30), (8, 5)), task((7, 12)),
    ]
    # Spark writes one compact JSON object a line
    (tmp_path / "app").write_text("".join(json.dumps(e, separators=(",", ":")) + "\n" for e in events))
    jobs, stages, join_rows = read_event_log(str(tmp_path))
    assert jobs[0].execution == 4 and jobs[0].group == "s2"
    assert stages[1].tasks == 2
    assert join_rows == {4: 42}


def _run(workload: str, trace: int, tmp_path, cwd: str = ROOT):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "5", "--seconds", "0", "--trace", str(trace), "--scale", "0.05",
           "--work", str(tmp_path / f"{workload}-{trace}")]
    # files, not pipes: reading a pipe to its end would also wait for
    # any process the run left holding it
    out, err = tmp_path / f"{workload}-{trace}.out", tmp_path / f"{workload}-{trace}.err"
    with open(out, "w") as o, open(err, "w") as e:
        rc = subprocess.run(cmd, cwd=cwd, stdout=o, stderr=e, timeout=600).returncode
    return subprocess.CompletedProcess(cmd, rc, out.read_text(), err.read_text())


def _live_with(marker: str) -> list[str]:
    """Live processes whose command line names ``marker``."""
    found = []
    for pid in os.listdir("/proc"):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if marker in cmd:
            found.append(f"{pid}: {cmd[:120]}")
    return found


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]] + ["corpus_dedup"])
def test_smoke_end_to_end(workload, tmp_path):
    p = _run(workload, 0, tmp_path)
    assert p.returncode == 0, p.stderr[-3000:]
    # the JVM (its java.io.tmpdir is in the work dir) ended with the run
    assert _live_with(str(tmp_path / f"{workload}-0")) == []
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1, p.stderr[-3000:]
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    if workload == "corpus_dedup":
        want.pop("bytes_stored_per_input_byte")  # it collects its results, stores none
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())
    # the human report names each metric with its unit and sample count
    for name, unit in want.items():
        assert re.search(rf"{re.escape(name)} = \S+ {re.escape(unit)}  n=\d+", p.stderr), name


def test_smoke_traced_run_reports_every_layer(tmp_path):
    # started outside the checkout: the IVF Arrow UDFs still import the engine
    p = _run("index_ingest", 1, tmp_path, cwd=str(tmp_path))
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] is True, p.stderr[-3000:]
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["exec.jobs"] > 0 and m["exec.tasks"] > 0 and m["streaming.triggers"] > 0
    assert m["index.files"] > 0 and m["plans.build_jobs"] > 0
    # the IVF probe's kept rows per joined candidate, from the engine's SQL metrics
    assert 0 < m["dedup.verified_per_candidate"] < 1
    spans = (tmp_path / "index_ingest-1" / "spans.jsonl").read_text().splitlines()
    layers = {json.loads(s)["layer"] for s in spans}
    assert {"iteration", "sources", "plans", "operators", "streaming", "index"} <= layers


def test_refuses_to_run_without_the_engine(tmp_path):
    bare = tmp_path / "bare"
    shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "household_etl",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=bare, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
