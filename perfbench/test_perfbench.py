"""The benchmark's own tests: generator determinism, the correctness
checks, and the declared metric names.

    python3 -m pytest perfbench/test_perfbench.py -q

The last three tests run the benchmark itself (about four minutes).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import reference  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

SPEC = run.declared()
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_generator_is_deterministic_per_seed():
    for make in (gen.corpus, gen.stream):
        assert gen.digest(make(7)) == gen.digest(make(7))
        assert gen.digest(make(7)) != gen.digest(make(8))


def test_corpus_plants_chains_that_need_several_rounds():
    size = gen.SIZES["dedup_batch"]
    docs = dict(gen.corpus(3))
    ref = reference.dedup_reference(list(docs.items()))
    clusters: dict[int, list[int]] = {}
    for node, root in reference.components(
            (a, b) for a, b, _ in ref["pairs"]).items():
        clusters.setdefault(root, []).append(node)
    # a whole chain survives LSH as one cluster; its members, in id order,
    # are the chain in order
    members = sorted(max(clusters.values(), key=len))
    assert len(members) == size["chain_len"]
    assert gen.jaccard(docs[members[0]], docs[members[-1]]) < gen.JACCARD_THRESHOLD
    assert all(gen.jaccard(docs[a], docs[b]) >= gen.JACCARD_THRESHOLD
               for a, b in zip(members, members[1:]))


def test_dedup_check_rejects_a_corrupted_output():
    docs = gen.corpus(4)
    ref = reference.dedup_reference(docs)
    pairs = [tuple(p) for p in ref["pairs"]]
    comp = reference.components((a, b) for a, b, _ in pairs)
    assert all(ok for ok, _ in workloads.check_dedup(ref, pairs, comp, ref["kept"]))

    def failed(pairs, comp, kept):
        return [w for ok, w in workloads.check_dedup(ref, pairs, comp, kept) if not ok]

    assert failed(pairs[1:], comp, ref["kept"]) == ["pairs differ from the DuckDB oracle"]
    a, b, j = pairs[0]
    assert failed([(a, b, j + 0.01)] + pairs[1:], comp, ref["kept"])
    moved = dict(comp)
    moved[max(moved)] = max(moved)
    assert failed(pairs, moved, ref["kept"]) == ["components differ from the union-find"]
    assert failed(pairs, comp, ref["kept"][1:]) == ["kept ids differ from the reference"]


def test_admission_check_rejects_a_corrupted_output():
    rows = gen.stream(4)
    ref = reference.stream_reference(rows)
    batches = gen.arrival_batches(rows, gen.SIZES["stream_admission"]["batches"])
    arrivals = [r[0] for chunk in batches for r in chunk]

    def verdicts(admitted):
        return [(i, "new" if i in admitted else "dup_of_history") for i in arrivals]

    nd = verdicts(set(ref["neardup_admitted"]))
    ev = verdicts(set(ref["embedding_admitted"]))
    assert all(ok for ok, _ in workloads.check_admission(ref, batches, nd, ev))

    # flip one verdict of the last micro-batch: exactly that batch fails
    last = batches[-1][0][0]
    flipped = [(i, "dup_in_batch" if v == "new" else "new") if i == last else (i, v)
               for i, v in nd]
    bad = [w for ok, w in workloads.check_admission(ref, batches, flipped, ev) if not ok]
    assert bad == [f"neardup verdicts of micro-batch {len(batches) - 1} differ"]
    # a lost verdict fails every batch of that path
    bad = [w for ok, w in workloads.check_admission(ref, batches, nd, ev[1:]) if not ok]
    assert len(bad) == len(batches)


def test_event_log_health_finds_duplicates_and_untraced_jobs():
    def task(stage, tid):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Task ID": tid}}

    def job(ms):
        return {"Event": "SparkListenerJobStart", "Submission Time": ms}

    events = [job(1000), task(0, 0), task(0, 1), job(5000), task(1, 2)]
    assert spans.event_log_health(events, [(2.0, 3.0)]) == {
        "task_ends": 3, "duplicate_task_ends": 0, "untraced_jobs": 0}
    # a listener attached twice writes every event twice
    assert spans.event_log_health(events + events[1:3], [(4.0, 6.0)]) == {
        "task_ends": 5, "duplicate_task_ends": 2, "untraced_jobs": 1}


def test_declared_names_follow_the_contract():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)
    assert [m["name"] for m in SPEC["end_to_end"]] == list(run.END_TO_END)
    names = [m["name"] for kind in ("workloads", "end_to_end", "per_layer")
             for m in SPEC[kind]]
    assert all(NAME.match(n) for n in names)
    assert len(names) == len(set(names))
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert len(SPEC["per_layer"]) <= 128


def _bench(cwd, workload, trace, seconds=1):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", str(seconds), "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=180)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    out = _bench(tmp_path, "dedup_batch", 0)
    assert out.returncode != 0 and out.stdout == ""


@pytest.mark.parametrize("trace", [0, 1])
def test_emitted_names_match_the_declaration(trace):
    kind = "per_layer" if trace else "end_to_end"
    produced = set()
    for workload in workloads.WORKLOADS:
        out = _bench(ROOT, workload, trace)
        assert out.returncode == 0, out.stderr[-3000:]
        result = json.loads(out.stdout.strip().splitlines()[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["attempted"] >= 1
        assert list(result["metrics"]) == [m["name"] for m in SPEC[kind]]
        summary = json.loads(out.stderr.strip().splitlines()[-1])
        produced |= set(summary["produced"])
        if trace:
            # each task once in the event log, and nothing logged while
            # the untraced pass ran
            health = summary["event_log"]
            assert health["task_ends"] > 0
            assert health["duplicate_task_ends"] == 0, health
            assert health["untraced_jobs"] == 0, health
    # every declared metric is measured on at least one workload
    assert produced >= {m["name"] for m in SPEC[kind]}
