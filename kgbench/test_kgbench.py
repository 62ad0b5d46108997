"""Tests of the benchmark itself: corpus keys and layout, the golden
filter, the metric set of BENCHMARK.json, and the refusal to run outside
a checkout. The last test runs the benchmark end to end on both workloads
(a few minutes on a 4-vCPU host).

    python3 -m pytest kgbench/test_kgbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)
sys.path.insert(0, ROOT)

import corpus as C  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
from information_extraction_from_biographies_spark import fixtures as fx  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
    BENCHMARK = json.load(f)


@pytest.mark.parametrize("seed", [0, 1, 12345])
def test_corpus_keys_are_unique_and_dense(seed):
    c = C.make_corpus(0, 40, seed, run.CAREER_REPS)
    df = c.transcripts
    assert not df.duplicated(["conv_id", "turn_idx"]).any()
    assert df["conv_id"].nunique() == 40
    for _conv, g in df.groupby("conv_id"):
        assert sorted(g["turn_idx"]) == list(range(4 + 2 * run.CAREER_REPS))


def test_repeated_key_fails():
    a = C.make_corpus(0, 3, 5, 1)
    with pytest.raises(ValueError, match="corpus key repeats"):
        C.union(a, C.make_corpus(2, 3, 5, 1))


def test_same_seed_same_corpus_other_seed_other_corpus():
    a = C.make_corpus(0, 10, 3, 2)
    b = C.make_corpus(0, 10, 3, 2)
    c = C.make_corpus(0, 10, 4, 2)
    assert a.transcripts.equals(b.transcripts) and a.goldens == b.goldens
    assert a.goldens != c.goldens


def test_kin_turn_is_last_and_career_turns_precede_it():
    reps = run.CAREER_REPS
    df = C.make_corpus(0, 20, 9, reps).transcripts
    for _conv, g in df.groupby("conv_id"):
        texts = list(g.sort_values("turn_idx")["text"])
        kin = [i for i, t in enumerate(texts) if "為妻" in t]
        assert kin == [len(texts) - 1]
        # t1, t2 and their repeats, all before the kin turn
        assert texts[1:-1] == [texts[1], texts[2]] * (reps + 1)


def test_golden_filter_drops_exactly_the_self_loops():
    f = fx.make_fixture(n_convs=1, seed=3, alias_salt="之0000001", rich_aliases=False)
    raw = fx.golden_triples(f)
    loops = {t for t in raw if t[0] == t[2]}
    # a single-conversation fixture wires collaborator and teacher to the
    # biographee itself
    assert {p for _s, p, _o in loops} >= {"合作", "恩師"}
    assert C.golden_filter(raw) == raw - loops


def test_end_to_end_metrics_match_benchmark_json():
    reps = [
        {
            "wall_s": w,
            "precision": 1.0,
            "recall": 1.0,
            "committed_triples": 100,
            "stored_bytes": 5000,
        }
        for w in (2.0, 3.0, 4.0)
    ]
    got = run.end_to_end(10.0, reps, turns=600, input_bytes=1000)
    want = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    assert {k: u for k, (_v, u) in got.items()} == want
    assert got["wall_s"][0] == 3.0
    assert got["turns_per_s"][0] == 200.0
    assert got["stored_bytes_per_input_byte"][0] == 5.0


def test_self_time_subtracts_covered_part_of_children():
    s = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 5.0},  # overlaps 2
        {"id": 4, "parent": 1, "start": 9.0, "end": 12.0},  # runs past 1
    ]
    assert spans.self_times(s)[1] == pytest.approx(10.0 - 4.0 - 1.0)


def test_benchmark_json_contract():
    assert set(BENCHMARK) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer",
    }
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(run.WORKLOADS)
    setup = [m for m in BENCHMARK["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in BENCHMARK["end_to_end"])
    names = [m["name"] for m in BENCHMARK["end_to_end"] + BENCHMARK["per_layer"]]
    assert len(names) == len(set(names))


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "kgbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [*BENCHMARK["command"], "--workload", "build", "--seed", "1", "--seconds", "1",
         "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [*BENCHMARK["command"], "--workload", workload, "--seed", "3",
         "--seconds", str(BENCHMARK["run_seconds"]), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_every_metric_is_printed_and_measured():
    e2e = [m["name"] for m in BENCHMARK["end_to_end"]]
    layer = [m["name"] for m in BENCHMARK["per_layer"]]
    measured: set[str] = set()
    for w in run.WORKLOADS:
        out = _run(w, 0)
        assert out["correct"] and out["failed"] == 0
        assert list(out["metrics"]) == e2e
        assert out["metrics"]["triple_precision"]["value"] == 1.0
        assert out["metrics"]["triple_recall"]["value"] == 1.0
        out = _run(w, 1)
        assert list(out["metrics"]) == layer
        records = spans.read_records(os.path.join(ROOT, ".kgbench_out", f"{w}-seed3.spans.jsonl"))
        measured |= set(spans.layer_metrics(records))
    assert set(layer) <= measured
