"""Self-tests of the benchmark. Run from the repository root:

    python -m pytest perfbench/test_perfbench.py -q

The generator and layout tests take seconds; the two end-to-end runs
take about a minute each on a 4-core host.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

TINY = dict(
    customer=30, supplier=10, part=40, orders=50, lineitem=200,
    events=100, documents=40, embeddings=20, event_span_hours=24,
)


def _read_tables(d: str) -> dict[str, bytes]:
    out = {}
    for t in gen.TABLES:
        with open(os.path.join(d, f"{t}.parquet"), "rb") as f:
            out[t] = f.read()
    return out


def test_generator_is_deterministic_per_seed_and_differs_across_seeds(tmp_path):
    a1, a2, b = (str(tmp_path / n) for n in ("a1", "a2", "b"))
    m1 = gen.generate(a1, 7, TINY)
    gen.generate(a2, 7, TINY)
    mb = gen.generate(b, 8, TINY)
    assert _read_tables(a1) == _read_tables(a2)
    ta, tb = _read_tables(a1), _read_tables(b)
    # the fixed dimensions stay put; every seeded table changes
    assert ta["region"] == tb["region"] and ta["nation"] == tb["nation"]
    for t in set(gen.TABLES) - {"region", "nation"}:
        assert ta[t] != tb[t], t
    for t in gen.TABLES:
        assert m1[t]["rows"] == mb[t]["rows"]
        assert m1[t]["bytes"] == os.path.getsize(os.path.join(a1, f"{t}.parquet"))
    assert m1["lineitem"]["rows"] == TINY["lineitem"]


def test_benchmark_json_lists_the_workloads():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"]
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert {"name": "setup_s", "unit": "s", "better": "lower",
            "bound": max(m["bound"] for m in spec["end_to_end"])} in spec["end_to_end"]


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "rime_batch", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""


@pytest.mark.parametrize("trace", [0, 1])
def test_short_run_completes_and_prints_the_listed_metrics(trace):
    """The shortest run (--seconds 0: one cold and one warm pass) on the
    cheaper workload: no failed or mismatched execution, and the printed
    metric names are exactly BENCHMARK.json's for that trace mode."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "corpus_dedup", "--seed", "424242",
         "--seconds", "0", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    summary, result = (json.loads(line) for line in out.stdout.strip().splitlines()[-2:])
    assert summary["failed_ratio"] == 0 and summary["oracle_mismatch_ratio"] == 0
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 3
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    listed = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    assert list(result["metrics"]) == listed
    for m in result["metrics"].values():
        assert isinstance(m["value"], (int, float))
