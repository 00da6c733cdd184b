"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The smoke runs start Spark once per run (about a minute each at the
tiny size).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

import gen
from spans import Tracer

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)


def test_generator_is_deterministic_per_seed():
    assert gen.bulk_batch(3, 1, 50) == gen.bulk_batch(3, 1, 50)
    standing = gen.standing_corpus(3, 60)
    assert standing == gen.standing_corpus(3, 60)
    assert gen.refresh_batch(3, 1, 20, standing) == \
        gen.refresh_batch(3, 1, 20, standing)
    assert gen.unseen_queries(3, 5) == gen.unseen_queries(3, 5)


def test_generator_differs_across_seeds():
    a, b = gen.bulk_batch(3, 1, 50), gen.bulk_batch(4, 1, 50)
    assert [d["content"] for d in a["docs"]] != \
        [d["content"] for d in b["docs"]]
    assert gen.unseen_queries(3, 5) != gen.unseen_queries(4, 5)


def test_corpus_shape():
    docs = gen.bulk_batch(5, 1, 400)["docs"]
    lengths = [len(d["content"]) for d in docs]
    assert min(lengths) == 0 and max(lengths) <= gen.MAX_DOC_CHARS
    assert abs(sum(lengths) - 400 * gen.MEAN_DOC_CHARS) < 400
    text = "".join(d["content"] for d in docs)
    for sep in ("<row>", "<Cell>", "\n", "。", "，", "；", " "):
        assert sep in text


def test_refresh_batch_marks_near_duplicates():
    standing = gen.standing_corpus(5, 200)
    batch = gen.refresh_batch(5, 1, 40, standing)
    contents = {d["content"] for d in standing}
    by_title = {d["title"]: d for d in batch["docs"]}
    assert len(batch["neardups"]) == 12
    assert batch["exact"] <= batch["neardups"]
    for t in batch["exact"]:
        assert by_title[t]["content"] in contents
    for t, d in by_title.items():
        assert d["content"]
        if t not in batch["neardups"]:
            assert d["content"] not in contents


def test_self_time_subtracts_children():
    tr = Tracer(True)
    tr.spans = [
        {"id": 0, "name": "outer", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "inner", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "inner", "parent": 0, "start": 3.0, "end": 6.0},
    ]
    st = tr.self_times()
    assert st["outer"] == pytest.approx(5.0)
    assert st["inner"] == pytest.approx(6.0)


def _run(cwd, *args):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600)


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(tmp_path, "--workload", "ingest_bulk", "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert "metrics" not in p.stdout


def test_failed_check_is_reported():
    """An oracle that is off by one chunk per doc fails every ingest
    check: the run still ends with its result line, marked incorrect."""
    code = ("import sys; sys.path[:0] = ['perfbench']\n"
            "import gen\n"
            "oracle = gen.oracle_chunks\n"
            "gen.oracle_chunks = lambda doc: oracle(doc) + ['']\n"
            "import run\n"
            "sys.exit(run.main(sys.argv[1:]))\n")
    p = subprocess.run(
        [sys.executable, "-c", code, "--workload", "ingest_bulk",
         "--seed", "1", "--seconds", "1", "--trace", "0", "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] is False
    assert result["failed"] >= 1
    assert result["metrics"]["success_rate"]["value"] < 1.0
    assert "oracle says" in p.stderr


@pytest.mark.parametrize("workload,seed,trace", [
    ("ingest_bulk", 1, 0), ("ingest_bulk", 2, 1),
    ("refresh_mixed", 1, 0), ("refresh_mixed", 2, 1),
])
def test_smoke_run_emits_every_metric(workload, seed, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    p = _run(ROOT, "--workload", workload, "--seed", str(seed),
             "--seconds", "1", "--trace", str(trace), "--size", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    # error_rate is 0: every operation ran and passed its checks
    assert result["failed"] == 0 and result["correct"], p.stderr[-3000:]
    want = spec["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    for m in want:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
