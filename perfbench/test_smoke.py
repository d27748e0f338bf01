"""Smoke test of the benchmark at tiny size (about 5 minutes on 4 cores).

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def run(cwd: str, workload: str, trace: int, *extra: str):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--size", "tiny", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def result(proc) -> dict:
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1
    assert isinstance(res["failed"], int)
    return res


def units(res: dict) -> dict:
    return {k: v["unit"] for k, v in res["metrics"].items()}


def declared(kind: str) -> dict:
    return {m["name"]: m["unit"] for m in BENCH[kind]}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_prints_every_layer_metric(workload):
    proc = run(ROOT, workload, 1)
    res = result(proc)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert res["correct"] and res["failed"] == 0
    assert units(res) == declared("per_layer")
    with open(os.path.join(ROOT, ".bench_out", f"trace-{workload}-7.json")) as fh:
        spans = json.load(fh)["spans"]
    assert spans and all({"name", "id", "parent", "req", "t0", "t1", "spark"} <= set(s)
                         for s in spans)


# --corrupt alters one output of every check; each check must report it
CAUGHT = {
    "query": ["FAILED query "],
    "batch": ["FAILED lifecycle 0: ", "FAILED compacted 0 ",
              "FAILED dedup_ngram_jaccard call 0: "],
}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_checker_catches_a_corrupted_result(workload):
    proc = run(ROOT, workload, 0, "--corrupt")
    res = result(proc)
    assert proc.returncode != 0
    assert not res["correct"] and res["failed"] >= 1
    for msg in CAUGHT[workload]:
        assert msg in proc.stdout, msg
    assert units(res) == declared("end_to_end")
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_minhash_reference_equals_the_sql_oracle(tmp_path):
    import duckdb

    sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]
    import __spark_entry__ as entry
    import gen
    import minhash_ref
    from scripts.check_gate import canon, stringify

    docs = gen.curate_documents(7, 60)
    docs.to_parquet(tmp_path / "documents.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{tmp_path / 'documents.parquet'}')")
    want = canon(con.execute(entry.oracle_sql()["dedup_minhash_lsh"]).df())
    got = canon(minhash_ref.minhash_lsh(docs))
    assert len(want) >= 1
    assert stringify(got).equals(stringify(want))


def test_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = run(str(tmp_path), WORKLOADS[0], 0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_search_check_allows_only_ties_to_swap():
    from collections import namedtuple

    sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]
    from workload import _same_result

    Row = namedtuple("Row", "docid rank score")
    top = [(10, 1, 0.9), (11, 2, 0.5), (12, 3, 0.5 + 1e-17), (13, 4, 0.3)]
    tail = [(14, 0.3)]
    op = {"cls": "and", "kw": {}}

    def rows(*ids):
        return [Row(d, k + 1, s) for d, (k, (_, _, s)) in zip(ids, enumerate(top))]

    assert _same_result(op, rows(10, 11, 12, 13), (top, tail))
    assert _same_result(op, rows(10, 12, 11, 13), (top, tail))      # tied scores
    assert _same_result(op, rows(10, 11, 12, 14), (top, tail))      # tie past the k-th
    assert not _same_result(op, rows(11, 10, 12, 13), (top, tail))  # not tied
    assert not _same_result(op, rows(10, 11, 12, 15), (top, tail))
    assert not _same_result({"cls": "filtered", "kw": {"order_by": "date_insert"}},
                            rows(10, 12, 11, 13), (top, tail))
    assert not _same_result(op, rows(10, 11, 12, 13)[:3], (top, tail))
