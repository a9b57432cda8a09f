"""Self-tests of the benchmark on tiny inputs.

    python3 -m pytest actbench/test_actbench.py -q

The last test starts Spark twice (about a minute).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from actbench import gen  # noqa: E402
from actbench.fakes import DIGEST_MOD, item_digest  # noqa: E402
from actbench.oracle import PAYLOADS, ActivationOracle  # noqa: E402

TODAY = dt.date(2026, 1, 15)


@pytest.fixture()
def scratch():
    path = ROOT / ".actbench_work" / "selftest"
    shutil.rmtree(path, ignore_errors=True)
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _digest_tree(path: Path) -> dict[str, str]:
    return {
        str(p.relative_to(path)): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(path.rglob("*"))
        if p.is_file()
    }


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_generator_is_deterministic_per_seed(scratch, workload):
    out = scratch / "inputs"
    gen.generate(workload, 7, str(out), TODAY, tiny=True)
    first = _digest_tree(out)
    shutil.rmtree(out)
    gen.generate(workload, 7, str(out), TODAY, tiny=True)
    assert _digest_tree(out) == first
    shutil.rmtree(out)
    gen.generate(workload, 8, str(out), TODAY, tiny=True)
    assert _digest_tree(out) != first


def _correct_run(scratch):
    """A tiny activation_fresh input plus the stats and control table a
    correct run leaves, built from the oracle's own expectations, and one
    payload item the Ads fake would receive."""
    inputs = scratch / "inputs"
    config = gen.generate("activation_fresh", 3, str(inputs), TODAY, tiny=True)
    oracle = ActivationOracle(config, None, TODAY)
    summary = [
        {"destination": d, "rows_uploaded": e["rows"], "ok": True}
        for d, e in oracle.branches.items()
    ]
    stats = {d: dict(e) for d, e in oracle.branches.items()}
    keys, expected = oracle.control["conversions"]
    control = Path(gen.control_path(str(inputs), "conversions")) / "dt=2026-01-15"
    control.mkdir(parents=True)
    rows = list(expected.elements())
    pq.write_table(
        pa.table({k: [r[i] for r in rows] for i, k in enumerate(keys)}),
        control / "part-0.parquet",
    )
    row = pq.read_table(gen.source_path(str(inputs), "conversions")).to_pylist()[0]
    item = PAYLOADS["ADS_OFFLINE_CONVERSION"](row)[0]
    return oracle, summary, stats, lambda s: gen.control_path(str(inputs), s), item


def test_oracle_accepts_a_correct_run(scratch):
    oracle, summary, stats, control_dir, _ = _correct_run(scratch)
    assert oracle.check(summary, stats, control_dir) == []


def test_oracle_catches_a_dropped_row(scratch):
    oracle, summary, stats, control_dir, item = _correct_run(scratch)
    s = stats["ads_oci"]
    s["items"] -= 1
    s["digest"] = (s["digest"] - item_digest(item)) % DIGEST_MOD
    summary[0]["rows_uploaded"] -= 1
    problems = oracle.check(summary, stats, control_dir)
    assert any(p.startswith("ads_oci: rows_uploaded") for p in problems)
    assert any(p.startswith("ads_oci: payload digest") for p in problems)


def test_oracle_catches_a_double_send(scratch):
    oracle, summary, stats, control_dir, item = _correct_run(scratch)
    s = stats["ads_oci"]
    s["items"] += 1
    s["digest"] = (s["digest"] + item_digest(item)) % DIGEST_MOD
    problems = oracle.check(summary, stats, control_dir)
    assert len(problems) == 1 and problems[0].startswith("ads_oci: payload digest")


def test_oracle_catches_a_double_append(scratch):
    oracle, summary, stats, control_dir, _ = _correct_run(scratch)
    keys, expected = oracle.control["conversions"]
    again = Path(control_dir("conversions")) / "dt=2026-01-16"
    again.mkdir()
    key = next(iter(expected))
    pq.write_table(pa.table({k: [key[i]] for i, k in enumerate(keys)}), again / "part-0.parquet")
    assert oracle.check(summary, stats, control_dir) == [
        "conversions: control-table keys differ from the expected keys"
    ]


@pytest.mark.parametrize("trace", [0, 1])
def test_printed_metrics_match_benchmark_json(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    out = subprocess.run(
        [sys.executable, "actbench/run.py", "--workload", "activation_fresh", "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=300, check=True,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] is True and result["failed"] == 0
    assert {n: m["unit"] for n, m in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in wanted
    }
