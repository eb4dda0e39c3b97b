"""Self-test of the benchmark at tiny sizes.

    python3 -m pytest perfbench -q

Runs every workload in both modes (a few Spark sessions, a few minutes).
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from workloads import WORKLOAD_NAMES, _micros, check_output, generate  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
TINY = 0.02

# seed 1 at TINY scale; a change here means the generator drifted and every
# earlier figure was measured on other inputs
PINNED_DIGESTS = {
    "crawl_extract":
        "d1452816cca84a505db1b2e17e50450d5e359f0469f054d316e8d3ebdd499fa2",
    "crawl_job_write":
        "d77367553cb2c4e6ae0bc1e3f9f6b949dea8e00289047e9040ec4b8b35633162",
    "messy_long_pages":
        "4189240ace9f7597b2844ea3128a322d3a2c76c080274ea69f63cb5b70d8b529",
}


def _args(workload: str, trace: int) -> list[str]:
    return ["--workload", workload, "--seed", "5", "--seconds", "0.1",
            "--trace", str(trace), "--scale", str(TINY)]


def _run(workload: str, trace: int):
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), *_args(workload, trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=400)
    lines = proc.stdout.strip().splitlines()
    return proc, json.loads(lines[-1]) if lines else None


def test_spec_names_match_the_code():
    import run
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOAD_NAMES)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in SPEC["per_layer"]} \
        == {k: v[:2] for k, v in run.LAYERS.items()}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_run_prints_the_spec_metrics(workload, trace):
    proc, result = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} \
        == {m["name"]: m["unit"] for m in spec}
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    if not trace:
        assert result["metrics"]["text_exact_ratio"]["value"] == 1.0
        assert result["metrics"]["doc_ok_ratio"]["value"] == 1.0


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_seed_decides_the_inputs(workload):
    a = generate(workload, 7, TINY).fingerprint()
    assert a == generate(workload, 7, TINY).fingerprint()
    assert a["digest"] != generate(workload, 8, TINY).fingerprint()["digest"]


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_generator_has_not_drifted(workload):
    assert generate(workload, 1, TINY).fingerprint()["digest"] \
        == PINNED_DIGESTS[workload]


def test_workload_shapes():
    crawl = generate("crawl_extract", 3, 0.5).fingerprint()
    assert 0.07 < crawl["second_crawl_share"] < 0.13
    assert 0.004 < crawl["non_utf8_share"] < 0.02
    assert 0.15 < crawl["entity_share"] < 0.25
    assert 1400 < crawl["mean_page_bytes"] < 2000
    messy = generate("messy_long_pages", 3, 0.5).fingerprint()
    assert 0.4 < messy["late_meta_share"] < 0.6
    assert 15000 < messy["mean_page_bytes"] < 25000


def test_gate_fails_on_a_corrupted_expectation():
    corpus = generate("crawl_extract", 2, TINY)
    rows = [(url, _micros(ts), text)
            for url, (ts, text) in corpus.expected.items()]
    assert check_output(corpus.expected, rows)["mismatches"] == 0
    url = rows[0][0]
    ts, text = corpus.expected[url]
    corpus.expected[url] = (ts, text + "!")
    check = check_output(corpus.expected, rows)
    assert check["mismatches"] == 1
    assert check["first_offending"] == [(url, "text differs")]


def test_run_exits_nonzero_when_the_gate_fails(monkeypatch, capsys):
    import run
    # run.main points these at its work directory; put them back afterwards
    for name in ("TMPDIR", "PYTHONPATH", "JAVA_TOOL_OPTIONS", "PYSPARK_PYTHON"):
        if name in os.environ:
            monkeypatch.setenv(name, os.environ[name])
        else:
            monkeypatch.delenv(name, raising=False)
    monkeypatch.setattr(tempfile, "tempdir", tempfile.tempdir)

    def corrupted(*args):
        corpus = generate(*args)
        url = next(iter(corpus.expected))
        ts, text = corpus.expected[url]
        corpus.expected[url] = (ts, text + "!")
        return corpus

    monkeypatch.setattr(run, "generate", corrupted)
    code = run.main(_args("crawl_extract", 0))
    out, err = capsys.readouterr()
    assert code != 0
    assert json.loads(out.strip().splitlines()[-1])["correct"] is False
    assert "correctness gate: text differs" in err


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_extract",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
