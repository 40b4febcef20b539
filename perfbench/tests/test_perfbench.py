"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The smoke runs start Spark in a subprocess with a tiny corpus (40
documents), about five minutes in all.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import metrics as M  # noqa: E402
from perfbench.landing import LandingZone  # noqa: E402

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def _zone_bytes(tmp_path, seed: int, name: str, deltas: int = 2) -> bytes:
    zone = LandingZone.generate(seed, 40)
    for k in range(1, deltas + 1):
        zone.apply_delta(k)
    path = tmp_path / name
    zone.write(str(path))
    return path.read_bytes()


def test_same_seed_gives_byte_identical_landing_zone(tmp_path):
    assert _zone_bytes(tmp_path, 5, "a.parquet") == _zone_bytes(tmp_path, 5, "b.parquet")


def test_other_seed_gives_other_landing_zone(tmp_path):
    assert _zone_bytes(tmp_path, 5, "a.parquet") != _zone_bytes(tmp_path, 6, "b.parquet")


def test_landing_zone_properties():
    zone = LandingZone.generate(3, 400)
    texts = [d.text for d in zone.docs.values()]
    nonascii = sum(any(ord(c) > 127 for c in t) for t in texts) / len(texts)
    assert 0.10 <= nonascii <= 0.20
    assert all("\n\n" in t and ". " in t for t in texts if len(t) > 3000)
    assert len({d.doc_key for d in zone.docs.values()}) == len(texts)


def test_benchmark_json_is_the_catalog():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        assert json.load(f) == M.benchmark_json()


def test_metric_names_are_well_formed_and_unique():
    names = [n for n, *_ in M.END_TO_END + M.PER_LAYER]
    assert len(names) == len(set(names))
    assert all(NAME_RE.fullmatch(n) and len(n) <= 64 for n in names)


def _smoke(workload: str, trace: int) -> tuple[dict, dict]:
    code = (
        "import sys; sys.path.insert(0, '.');"
        "import perfbench.ingest as I;"
        "I.N_DOCS = 40;"
        "from perfbench.run import main;"
        f"sys.exit(main(['--workload', '{workload}', '--seed', '7',"
        f" '--seconds', '1', '--trace', '{trace}']))"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True,
        text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["audit"], json.loads(lines[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in M.WORKLOADS])
def test_smoke_run_emits_every_applicable_metric(workload):
    audit, out = _smoke(workload, 0)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert set(out["metrics"]) == {n for n, *_ in M.END_TO_END}
    assert all(m["value"] > 0 for m in out["metrics"].values())

    audit, out = _smoke(workload, 1)
    assert out["correct"], audit["problems"]
    assert set(out["metrics"]) == {n for n, *_ in M.PER_LAYER}
    for name, m in out["metrics"].items():
        assert NAME_RE.fullmatch(name) and m["unit"] == M.UNITS[name]
        assert isinstance(m["value"], (int, float))
    assert set(audit["not_applicable"]) == {
        n for n, *_ in M.PER_LAYER if not M.applies(n, workload)}
