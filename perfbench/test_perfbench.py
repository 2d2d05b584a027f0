"""The benchmark's own tests: ``python3 -m pytest perfbench -q``.

The smoke runs start a Spark session each and take about a minute apiece.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import loadgen  # noqa: E402
import run  # noqa: E402

BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text())


def _spec(workload: str, frames: int) -> dict:
    mix = {k: v["value"] for k, v in run.WORKLOADS[workload]["mix"].items()}
    return dict(mix, frames=frames)


def _bytes(capture: loadgen.Capture) -> bytes:
    return "\n".join(map(loadgen.encode, capture.frames)).encode()


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_generator_is_deterministic(workload):
    spec = _spec(workload, 5000)
    a, b = loadgen.generate(7, spec), loadgen.generate(7, spec)
    assert _bytes(a) == _bytes(b)
    assert (a.gaps, a.duplicates) == (b.gaps, b.duplicates)
    assert _bytes(loadgen.generate(8, spec)) != _bytes(a)


def test_generator_manifest_matches_frames():
    capture = loadgen.generate(3, _spec("book_replay", 5000))
    assert len(capture.frames) == 5000
    seqs = [f["sequence"] for f in capture.frames]
    redelivered = [s for i, s in enumerate(seqs) if s in seqs[:i]]
    assert redelivered == capture.duplicates and capture.duplicates
    assert capture.gaps
    by_seq = {f["sequence"]: f for f in capture.frames}
    # gaps are spaced evenly, never closer than 1 / gap_rate trades
    trades = sorted(s for s, f in by_seq.items() if f["type"] == "match")
    closings = sorted({closing for _p, _t, closing in capture.gaps})
    every = round(1 / run.WORKLOADS["book_replay"]["mix"]["gap_rate"]["value"])
    for a, b in zip(closings, closings[1:]):
        assert sum(a < s <= b for s in trades) >= every
    for product, trade_id, closing in capture.gaps:
        f = by_seq[closing]
        assert f["type"] == "match" and f["product_id"] == product
        assert f["trade_id"] > trade_id
        # the stream never carries a planted id; the fetcher serves it
        assert loadgen.fetched_trade(product, trade_id)["trade_id"] == trade_id
        assert trade_id in {t["trade_id"]
                            for t in loadgen.fetch_trades(product, f["trade_id"])}


def test_metric_names_match_benchmark_json():
    e2e = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert e2e == run.UNITS
    assert layers == run.PER_LAYER
    assert {w["name"] for w in BENCHMARK["workloads"]} == set(run.WORKLOADS)


def _run(args: list[str], cwd: Path) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, capture_output=True, text=True,
                          timeout=400)


@pytest.mark.parametrize("workload,trace", [("book_replay", 1),
                                            ("book_live", 0)])
def test_tiny_smoke_run(workload, trace):
    proc = _run(["--workload", workload, "--seed", "5", "--seconds", "2",
                 "--trace", str(trace), "--tiny"], ROOT)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] > 0
    key = "per_layer" if trace else "end_to_end"
    assert set(result["metrics"]) == {m["name"] for m in BENCHMARK[key]}
    for m in BENCHMARK[key]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(["--workload", "book_replay", "--seed", "1", "--seconds", "1",
                 "--trace", "0"], tmp_path)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
