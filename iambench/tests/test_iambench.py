"""Tests of the benchmark itself.

    python3 -m pytest iambench/tests -q

The first tests need no Spark. The smoke tests run the benchmark
command end to end at sf0.001, about a minute each.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from iambench import run  # noqa: E402
from iambench.fixtures import make_tables, write_fixture  # noqa: E402
from iambench.oracle import IamOracle, StoreModel  # noqa: E402
from iambench.workloads import WORKLOADS  # noqa: E402


@pytest.fixture(scope="module")
def oracle(tmp_path_factory):
    return IamOracle(write_fixture(0.001, str(tmp_path_factory.mktemp("fixture"))))


def _benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def _stream(w, n=3):
    return w.warmups(), [w.cycle() for _ in range(n)], getattr(w, "batches", None)


def test_fixture_tables_are_deterministic():
    a, b = make_tables(0.001), make_tables(0.001)
    assert all(a[t].equals(b[t]) for t in a)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_same_seed_same_ops_and_batches(oracle, name):
    W = WORKLOADS[name]
    assert _stream(W(7, oracle)) == _stream(W(7, oracle))
    assert _stream(W(7, oracle)) != _stream(W(8, oracle))


def test_read_checks_catch_a_wrong_answer(oracle):
    w = WORKLOADS["iam_read"](3, oracle)
    answers = {
        "who_can_access": lambda p: sorted(oracle.who_can_access(p)),
        "members_of_role": lambda r: sorted(
            k for lbl, k in oracle.members_of_role(r) if lbl == "user"
        ),
        "out_neighbors": lambda u: sorted(oracle.out_adj[("user", u)]),
        "reach": lambda u: sorted(oracle.reach(u)),
    }
    records = [
        {"kind": k, "param": p, "value": answers[k](p), "post": None, "cycle": c, "timed": True}
        for c in (1, 2)
        for k, p in w.cycle()
    ]
    assert w.verify(records) == []
    records[5]["value"] = records[5]["value"][1:]
    records[6]["value"] = records[6]["value"] + records[6]["value"][:1]
    assert len(w.verify(records)) == 2


def test_ingest_cycle_is_fixed_and_replays_a_quarter(oracle):
    w = WORKLOADS["iam_ingest"](3, oracle)
    assert w.cycle() == w.cycle()
    merges = [k for k, _ in w.cycle() if k in ("commit", "replay")]
    assert merges == ["commit", "replay", "commit", "commit"]
    warm = [k for k, _ in w.warmups() if k in ("commit", "replay")]
    # base + (COMPACT_EVERY - 1) deltas: the cycle's first commit compacts
    assert warm.count("commit") == w.COMPACT_EVERY - 1 and warm.count("replay") == 1
    principals = {
        f"{lbl}:{k}" for lbl, k in oracle.vertices if lbl in ("user", "serviceAccount", "group")
    }
    roles = set(oracle.keys("role"))
    assert all(m in principals and r in roles for b in w.batches for m, r in b)


def _ingest_records(w):
    """Records of a store that is right: warm-ups, then two cycles."""
    model = StoreModel()
    model.apply(w.base)
    ops = [(k, p, 0) for k, p in w.warmups()]
    ops += [(k, p, c) for c in (1, 2) for k, p in w.cycle()]
    records, start, seq = [], None, 0
    for kind, param, cycle in ops:
        if cycle and (start is None or cycle != records[-1]["cycle"]):
            start = start or model.copy()
            model = start.copy()
        post = value = None
        if kind in ("commit", "replay"):
            nv, ne = model.apply(w.batches[param])
            post = (seq, seq + 1, 10, 1, False) if nv or ne else (seq, seq, 0, 0, False)
            seq = post[1]
        elif kind == "fresh_read":
            value = sorted(model.members_of_role(param))
        else:
            value = model.counts()
        rec = {"kind": kind, "param": param, "value": value, "post": post}
        records.append({**rec, "cycle": cycle, "timed": cycle > 0})
    return records


def test_ingest_checks_catch_a_lost_commit(oracle):
    w = WORKLOADS["iam_ingest"](3, oracle)
    records = _ingest_records(w)
    assert w.verify(records) == []
    # each cycle starts from the warm-up state, so cycle 2 commits again
    second = [r for r in records if r["cycle"] == 2 and r["kind"] == "commit"][0]
    assert second["post"][1] != second["post"][0]
    lost = dict(second, post=(second["post"][0],) * 2 + (0, 0, False))
    records[records.index(second)] = lost
    assert len(w.verify(records)) >= 1


def test_benchmark_json_matches_the_runner():
    b = _benchmark_json()
    assert [m["name"] for m in b["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)


def _run(*args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, "iambench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


@pytest.mark.parametrize(
    "workload,trace", [("iam_read", "0"), ("iam_ingest", "1")], ids=["read-e2e", "ingest-traced"]
)
def test_smoke_sf0001(workload, trace):
    p = _run(
        "--workload", workload, "--seed", "5", "--seconds", "1", "--trace", trace, "--sf", "0.001"
    )
    assert p.returncode == 0, p.stderr[-2000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 8
    key = "per_layer" if trace == "1" else "end_to_end"
    want = {m["name"]: m["unit"] for m in _benchmark_json()[key]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    if trace == "0":
        assert all(v["value"] > 0 for v in out["metrics"].values())


def test_injected_fault_is_caught_and_counted():
    args = ["--workload", "iam_ingest", "--seed", "5", "--seconds", "1", "--sf", "0.001"]
    p = _run(*args, "--inject-fault", "wrong")
    assert p.returncode == 1
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] is False and out["failed"] == 1
    assert "WRONG" in p.stderr


def test_op_type_that_always_raises_fails_the_run():
    args = ["--workload", "iam_read", "--seed", "5", "--seconds", "3", "--sf", "0.001"]
    p = _run(*args, "--inject-fault", "raise")
    assert p.returncode == 1
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] is False and out["failed"] >= 1
    assert out["metrics"]["op4_p50_s"]["value"] is None
    # one traceback, not one per call
    assert p.stderr.count("RuntimeError: injected fault") == 1
    assert "FAILED: no reach op succeeded" in p.stderr


def test_bare_directory_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "iambench"),
        tmp_path / "iambench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    p = _run("--workload", "iam_read", "--seed", "1", "--seconds", "1", cwd=tmp_path)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
