"""The benchmark's own tests: input generation (no Spark) and a smoke run
of every workload, its correctness gates and the traced run at toy size.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402


def test_inputs_are_seeded(tmp_path):
    a = inputs.make_corpus(str(tmp_path / "a.parquet"), 7, 20, 100)
    b = inputs.make_corpus(str(tmp_path / "b.parquet"), 7, 20, 100)
    c = inputs.make_corpus(str(tmp_path / "c.parquet"), 8, 20, 100)
    ta, tb, tc = (pq.read_table(x.path) for x in (a, b, c))
    assert ta.equals(tb) and not ta.equals(tc)
    assert inputs.query_log(7, a, 50) == inputs.query_log(7, b, 50)
    assert a.text_bytes == sum(len(t.encode()) for t in ta.column("text").to_pylist())


def test_cdc_batches_target_live_keys(tmp_path):
    corpus = inputs.make_corpus(str(tmp_path / "t.parquet"), 3, 20, 100)
    batches = inputs.make_cdc_batches(str(tmp_path / "cdc"), 3, corpus, 6,
                                      updates=5, replaces=2, deletes=4, inserts=3)
    live = set(corpus.key_bytes)
    tokens = set()
    for b in batches:
        rows = pq.read_table(b.path).to_pylist()
        keys = [(r["conv_id"], r["turn_idx"]) for r in rows]
        assert len(keys) == len(set(keys)) == b.n_events
        for r, key in zip(rows, keys):
            assert (key in live) == (r["op"] != "insert"), r
        inserted = [k for r, k in zip(rows, keys) if r["op"] == "insert"]
        assert inserted == b.inserted
        assert all(b.token in r["full_document"]["text"].split()
                   for r in rows if r["op"] == "insert")
        assert b.token not in tokens
        tokens.add(b.token)
        live -= set(b.deleted)
        live |= set(b.inserted)
    # later batches delete turns earlier batches inserted
    assert any(set(b.deleted) & set(a.inserted)
               for i, b in enumerate(batches) for a in batches[:i])


def run_bench(cwd, *args, timeout=900):
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout)


def test_smoke_all_workloads():
    """Every workload untraced, serve and batch traced (batch's traced
    run carries the write path), gates included, at toy size."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    proc = run_bench(ROOT, "--workload", "all", "--seed", "3", "--seconds", "1",
                     "--trace", "0", "--size", "smoke")
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    results = [json.loads(x[len("# result "):]) for x in lines
               if x.startswith("# result ")] + [json.loads(lines[-1])]
    infos = [json.loads(x[len("# info "):]) for x in lines if x.startswith("# info ")]
    assert [(i["workload"], i["trace"]) for i in infos] == [
        ("serve", 0), ("serve", 1), ("batch", 0), ("batch", 1), ("ingest", 0)]
    end_to_end = {m["name"] for m in bench["end_to_end"]}
    per_layer = {m["name"] for m in bench["per_layer"]}
    for info, res in zip(infos, results):
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
        assert set(res["metrics"]) == (per_layer if info["trace"] else end_to_end)
        if not info["trace"]:
            assert all(m["value"] > 0 for m in res["metrics"].values()), res
    serve_t, batch_t = results[1]["metrics"], results[3]["metrics"]
    assert serve_t["driver.jobs_per_query"]["value"] == 0
    assert serve_t["driver.score_us"]["value"] > 0
    assert batch_t["batch.jobs_per_call"]["value"] > 0
    assert batch_t["cdc.jobs_per_commit"]["value"] > 0
    assert batch_t["tables.chain_depth"]["value"] >= 1


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the
    benchmark exits non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert proc.returncode != 0
    assert not any(x.startswith("{") for x in proc.stdout.splitlines())


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
