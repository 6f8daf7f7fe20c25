"""The benchmark's own tests: contract shape, generator envelope
identity, planted faults, cold restart, bare-directory refusal.

Run from the repository root:  python3 -m pytest perfbench/tests -q
(the fault and restart runs take a few minutes in all)."""
import json
import os
import shutil
import subprocess
import sys
import tempfile

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402


def bench(*args, timeout=300):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), *map(str, args)],
                       cwd=ROOT, capture_output=True, text=True, timeout=timeout)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, result, p.stderr


def test_benchmark_json_matches_the_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == \
        [(n, run.UNITS[n]) for n in run.END_TO_END]
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.per_layer()
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_generator_envelopes_match_envelope_feed():
    """gen.py's envelopes are byte-identical to EnvelopeFeed.enveloped."""
    run.build()
    terms = np.array(["good", "day", "im", "love", "sad"], dtype=object)
    cdf = np.cumsum([0.4, 0.2, 0.2, 0.1, 0.1])
    texts = gen.texts(np.random.default_rng(7), terms, cdf, 2000)
    texts += ['quote " back\\slash', "tab\tnew", "comma, , ,", None]
    assert None in texts
    with tempfile.TemporaryDirectory(dir=BENCH) as d:
        src = os.path.join(d, "texts.jsonl")
        with open(src, "w", encoding="utf-8") as f:
            for i, t in enumerate(texts):
                f.write(json.dumps({"id": i, "text": t}) + "\n")
        out = os.path.join(d, "out")
        subprocess.run(run.java("perfbench.EnvelopeCheck", [src, out], "2g", sut=False),
                       check=True, capture_output=True, timeout=300)
        part = next(p for p in os.listdir(out) if p.startswith("part-"))
        with open(os.path.join(out, part), encoding="utf-8") as f:
            spark_lines = f.read().splitlines()
    assert spark_lines == [gen.envelope(t) for t in texts]


@pytest.mark.parametrize("fault", ["dup", "drop", "flip"])
@pytest.mark.parametrize("sink", ["paced", "backlog"])
def test_each_check_trips_on_a_planted_fault(fault, sink):
    rc, result, err = bench("--workload", "feed", "--seed", 3, "--seconds", 2, "--trace", 0,
                            "--scale", 0.25, "--plant", fault, "--plant-in", sink)
    assert rc != 0, err[-2000:]
    assert result is not None and result["correct"] is False and result["failed"] > 0


def test_cold_restart_stays_exactly_once():
    """The paced query is killed (SIGKILL) halfway and restarted on the
    same checkpoint in a new JVM; the committed view stays exact."""
    rc, result, err = bench("--workload", "feed", "--seed", 4, "--seconds", 4, "--trace", 0,
                            "--scale", 0.25, "--restart", 1)
    assert rc == 0, err[-2000:]
    assert result["correct"] is True and result["failed"] == 0
    assert "cold stop" in err


def test_clean_small_run_is_correct():
    rc, result, err = bench("--workload", "feed", "--seed", 5, "--seconds", 2, "--trace", 0,
                            "--scale", 0.25)
    assert rc == 0, err[-2000:]
    assert result["correct"] is True and result["attempted"] > 0
    assert set(result["metrics"]) == set(run.END_TO_END)
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_refuses_to_run_without_the_repository():
    os.makedirs(os.path.join(BENCH, "work"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(BENCH, "work")) as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "work", "results", "project",
                                                      "__pycache__"))
        shutil.copytree(os.path.join(BENCH, "project"), os.path.join(d, "perfbench", "project"),
                        ignore=shutil.ignore_patterns("target", "project"))
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "feed",
                            "--seed", "1", "--seconds", "2", "--trace", "0"],
                           cwd=d, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert not p.stdout.strip()
