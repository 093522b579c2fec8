"""Self-tests for the benchmark: ``python3 -m pytest perfbench -q`` from the repo root.

The fast tests cover input generation and the span recorder. The slow
ones run ``run.py`` end to end on a few hundred rows, once per workload
and once traced, and check that every metric prints with its name and
unit and that no output check fails.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

import inputs
from ledger import PER_LAYER_UNITS
from measure import Tracer, process_tree
from run import END_TO_END_UNITS
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SMALL_ROWS = {"extract_crawl": 320, "resume_commit": 160, "dedup_near": 300}


def _session_members(sid: int) -> list[int]:
    """Live processes of session ``sid``."""
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                    raw = fh.read()
            except OSError:
                continue
            fields = raw[raw.rindex(")") + 2:].split()
            if int(fields[3]) == sid and fields[0] != "Z":
                out.append(int(name))
    return out


def _run_alone(argv: list[str], timeout: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    """Run ``argv`` in a session of its own and check it left no process behind."""
    with subprocess.Popen(argv, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, start_new_session=True) as proc:
        stdout, stderr = proc.communicate(timeout=timeout)
        assert _session_members(proc.pid) == []
    return subprocess.CompletedProcess(argv, proc.returncode, stdout, stderr)


def _bench(*args: str) -> dict:
    out = _run_alone([sys.executable, os.path.join(HERE, "run.py"), *args], timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_benchmark_json_names_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def test_inputs_are_a_function_of_the_seed(tmp_path):
    a = inputs.load_or_make(str(tmp_path / "a"), "extract_crawl", "pages", 5, 64, 2)
    b = inputs.load_or_make(str(tmp_path / "b"), "extract_crawl", "pages", 5, 64, 2)
    c = inputs.load_or_make(str(tmp_path / "a"), "extract_crawl", "pages", 6, 64, 2)
    assert a.digest == b.digest != c.digest
    assert a.meta["expected_digest"] == b.meta["expected_digest"]
    assert all(u.startswith("https://") and "/p/00500" in u for u in a.meta["expected"])


def test_cache_regenerates_a_changed_file(tmp_path):
    a = inputs.load_or_make(str(tmp_path), "extract_crawl", "pages", 1, 32, 2)
    with open(a.files[0], "ab") as fh:
        fh.write(b"x")
    b = inputs.load_or_make(str(tmp_path), "extract_crawl", "pages", 1, 32, 2)
    assert b.digest == a.digest == inputs._files_digest(b.files)


def test_corpus_clusters_straddle_the_skew_guard(tmp_path):
    inp = inputs.load_or_make(str(tmp_path), "dedup_near", "corpus", 3, 200, 2)
    sizes = [len(c["ids"]) for c in inp.meta["clusters"]]
    assert any(s > inputs.DEDUP_MAX_BUCKET for s in sizes)
    assert any(1 < s <= inputs.DEDUP_MAX_BUCKET for s in sizes)
    required = [j for c in inp.meta["clusters"] if not c["guarded"]
                for _, _, j in c["pairs"] if j >= inputs.DEDUP_RECALL_JACCARD]
    assert required


def test_shingles_follow_java_whitespace():
    assert inputs.tokens(" a\tb\n\nc\x0bd ") == ["a", "b", "c", "d"]
    assert inputs.shingle_set("a b") == frozenset({"a b"})
    assert inputs.jaccard(inputs.shingle_set("a b c d"), inputs.shingle_set("a b c e")) == 1 / 3


def test_tracer_self_time_excludes_children():
    t = Tracer("t")
    with t.span("outer") as outer:
        with t.span("inner"):
            pass
    assert t.self_time(outer) <= outer["end"] - outer["start"]
    assert [s["parent"] for s in t.spans] == [None, 0]


def test_process_tree_contains_self():
    assert os.getpid() in process_tree(os.getpid())


def test_stop_descendants_reaps_orphans_and_the_resource_tracker():
    script = (
        "import multiprocessing as mp, subprocess, harness\n"
        "harness.adopt_orphans()\n"
        "with mp.get_context('spawn').Pool(1) as pool:\n"
        "    pool.map(abs, [1])\n"
        "subprocess.run(['sh', '-c', 'sleep 300 &'], check=True)\n"
        "harness.stop_descendants()\n")
    out = _run_alone([sys.executable, "-c", script], timeout=120, cwd=HERE)
    assert out.returncode == 0, out.stderr


def _assert_metrics(result: dict, units: dict) -> None:
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_prints_every_end_to_end_metric(workload):
    result = _bench("--workload", workload, "--seed", "2", "--seconds", "1",
                    "--trace", "0", "--rows", str(SMALL_ROWS[workload]))
    _assert_metrics(result, END_TO_END_UNITS)
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", ["resume_commit"])
def test_traced_run_prints_every_per_layer_metric(workload):
    result = _bench("--workload", workload, "--seed", "2", "--seconds", "1",
                    "--trace", "1", "--rows", "320")
    _assert_metrics(result, PER_LAYER_UNITS)


def test_refuses_to_run_without_the_program(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (bench / name).write_bytes(open(os.path.join(HERE, name), "rb").read())
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "extract_crawl",
                          "--seed", "1", "--seconds", "1", "--trace", "0"],
                         cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert out.returncode != 0
    assert out.stdout == ""
