"""Self-tests of the benchmark at a tiny size.

    python3 -m pytest perfbench -q

Each Spark-backed case runs ``run.main`` in a subprocess, with the module's
sizes shrunk to a 2-copy extract of 8000 base nodes, one set-up (two for
the untraced cases, so the JVM restart between cold set-ups runs) and a
one-second window; the damage cases corrupt the generated inputs through
``main``'s ``damage`` hook.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench.trace import Span, self_times, total_times

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TINY_BASE_NODES = 8000
TINY_COPIES = {"node": 2, "way": 2, "relation": 2, "tagged_node": 2}

_DRIVER = """
import sys
sys.path.insert(0, {root!r})
from perfbench import run, test_perfbench as t
run.BASE_NODES, run.COPIES = t.TINY_BASE_NODES, t.TINY_COPIES
run.SETUPS = {setups!r}
how = {how!r}
damage = None if how is None else (lambda inputs, wl: t.corrupt(inputs, wl, how))
sys.exit(run.main({argv!r}, damage=damage))
"""


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(workload: str, *extra: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    """The benchmark command as BENCHMARK.json runs it."""
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def _tiny(workload: str, seed: int, trace: int, how: str | None = None,
          setups: int = 1) -> subprocess.CompletedProcess:
    argv = ["--workload", workload, "--seed", str(seed), "--seconds", "1",
            "--trace", str(trace)]
    code = _DRIVER.format(root=ROOT, how=how, argv=argv, setups=setups)
    return subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                          capture_output=True, text=True, timeout=600)


def corrupt(inputs: dict, workload: str, how: str) -> None:
    """Damage a scan workload's inputs after the ground truth was computed.
    ``truncate`` keeps the first 60% of the extract; ``flip`` inverts one
    byte in the middle of the first data blob the workload reads; ``truth``
    makes the expected ``sum(id)`` wrong instead."""
    from osmpbf_spark.sources.pbf import decode

    if how == "truth":
        for want in inputs["truth"].values():
            want["sum_id"] += 1
        return
    path = inputs["extract"]
    with open(path, "r+b") as f:
        if how == "truncate":
            f.truncate(int(os.path.getsize(path) * 0.6))
            return
        kind = 1 if workload == "scan_tagged_nodes" else 2
        meta = next(m for m in decode.index_blocks(path)
                    if m.stats and m.stats.get("kinds") == kind)
        offset = meta.data_offset + meta.data_size // 2
        f.seek(offset)
        b = f.read(1)
        f.seek(offset)
        f.write(bytes([b[0] ^ 0xFF]))


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _info(proc: subprocess.CompletedProcess) -> dict:
    return json.loads(proc.stdout.strip().splitlines()[-2])


def test_self_time_arithmetic_on_synthetic_tree():
    spans = [
        Span(0, "reader", None, 0.0, 10.0),
        Span(1, "inflate", 0, 1.0, 4.0),
        Span(2, "decode", 0, 3.0, 6.0),  # overlaps its sibling by 1
        Span(3, "parse", 1, 2.0, 3.0),
        Span(4, "batch", 0, 9.0, 12.0),  # runs past its parent's end
        Span(5, "reader", None, 20.0, 21.0),
    ]
    st = self_times(spans)
    assert st["reader"] == pytest.approx((10 - 5 - 1) + 1)
    assert st["inflate"] == pytest.approx(3 - 1)
    assert st["decode"] == pytest.approx(3)
    assert st["parse"] == pytest.approx(1)
    assert st["batch"] == pytest.approx(3)
    assert total_times(spans)["reader"] == pytest.approx(11)


@pytest.fixture(scope="module")
def untraced():
    """Two cold set-ups each, so the JVM restart between them is exercised."""
    return {w["name"]: _tiny(w["name"], 3, 0, setups=2)
            for w in _bench()["workloads"]}


@pytest.fixture(scope="module")
def traced_twice():
    wl = _bench()["workloads"][0]["name"]
    return [_result(_tiny(wl, 5, 1)) for _ in range(2)]


def test_every_end_to_end_metric_present_with_unit(untraced):
    want = {m["name"]: m["unit"] for m in _bench()["end_to_end"]}
    for name, proc in untraced.items():
        res = _result(proc)
        assert res["correct"] and res["failed"] == 0, name
        assert len(_info(proc)["setup_samples_s"]) == 2, name
        assert res["attempted"] >= 1
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        assert got == want, name
        assert all(v["value"] > 0 for v in res["metrics"].values()), name


def test_every_per_layer_metric_present_with_unit(traced_twice):
    want = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    for res in traced_twice:
        assert res["correct"] and res["failed"] == 0
        assert {k: v["unit"] for k, v in res["metrics"].items()} == want


def test_counts_repeat_exactly(traced_twice):
    a, b = (r["metrics"] for r in traced_twice)
    counts = [k for k, v in a.items() if v["unit"] in ("count", "B")]
    assert counts
    assert {k: a[k]["value"] for k in counts} == {k: b[k]["value"] for k in counts}


@pytest.mark.parametrize("how,workload", [
    ("truncate", "scan_tagged_nodes"),
    ("flip", "scan_tagged_nodes"),
    ("flip", "scan_ways_relations"),
    ("truth", "scan_ways_relations"),
])
def test_damaged_input_or_wrong_checksum_counts_as_errors(how, workload):
    proc = _tiny(workload, 7, 0, how)
    res = _result(proc)
    assert not res["correct"]
    # every operation reads the damage, so every one fails and none is timed
    assert res["attempted"] >= 1 and res["failed"] == res["attempted"]
    assert res["metrics"]["rows_per_s"]["value"] == 0
    assert f"{workload} error_rate = 1 " in proc.stdout


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("scan_tagged_nodes", "--seed", "1", "--seconds", "1",
                "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
