"""Self-tests for the pipeline benchmark.

    python3 -m pytest perfbench -q

The generator and span tests need no Spark.  The command tests run the
benchmark itself, at the size it measures, in both modes on both
workloads (about six minutes on a 4-CPU host).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE)]

import gen  # noqa: E402
import tracing  # noqa: E402


def _files(d: Path) -> dict[str, bytes]:
    return {str(p.relative_to(d)): p.read_bytes()
            for p in sorted(d.rglob("*")) if p.is_file()}


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_generator_is_deterministic_per_seed(workload, tmp_path):
    a = gen.generate(workload, 3, tmp_path / "a")
    b = gen.generate(workload, 3, tmp_path / "b")
    c = gen.generate(workload, 4, tmp_path / "c")
    fa = _files(tmp_path / "a")
    assert fa and fa == _files(tmp_path / "b")
    assert a.props == b.props and a.gold_mentions == b.gold_mentions
    assert fa != _files(tmp_path / "c")


class _FakeContext:
    def setJobGroup(self, *a):
        pass

    def setLocalProperty(self, *a):
        pass


class _FakeSpark:
    sparkContext = _FakeContext()


def test_spans_nest_inside_their_job_and_unattributed_is_not_negative():
    tr = tracing.Tracer(_FakeSpark(), "t")
    with tr.span("job", None, "job") as job:
        time.sleep(0.01)
        with tr.span("write_stage:linked", "checkpoints", "sink"):
            with tr.span("compute:linked", "link", "compute"):
                time.sleep(0.02)
            time.sleep(0.01)
        with tr.span("connected_components", "cc", "eager"):
            time.sleep(0.01)
    by_id = {s["id"]: s for s in tr.spans}
    assert len({s["run_id"] for s in tr.spans}) == 1
    for s in tr.spans:
        if s["parent"] is not None:
            p = by_id[s["parent"]]
            assert p["start"] <= s["start"] <= s["end"] <= p["end"]
    self_t = tracing.self_times(tr.spans)
    assert all(v >= 0 for v in self_t.values())
    assert self_t[job["id"]] >= 0.01
    secs = tracing.layer_seconds(tr.spans)
    assert secs["link"] >= 0.02 and secs["checkpoints"] >= 0.01
    assert secs["cc"] >= 0.01


def _run(args, cwd=ROOT):
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, capture_output=True, text=True, timeout=600)


SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_command_prints_every_metric_with_its_unit(workload):
    """Both modes on one seed: every BENCHMARK.json metric with its unit,
    outputs checked, and the same final-table digest in both runs."""
    digests = set()
    for trace, section in ((0, "end_to_end"), (1, "per_layer")):
        p = _run(["--workload", workload, "--seed", "3",
                  "--seconds", "1", "--trace", str(trace)])
        assert p.returncode == 0, p.stderr[-3000:]
        lines = p.stdout.strip().splitlines()
        out = json.loads(lines[-1])
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in SPEC[section]}
        assert {k: v["unit"] for k, v in out["metrics"].items()} == want
        for name, unit in want.items():
            assert any(ln.startswith(f"# {name} = ") and ln.endswith(f" {unit}")
                       for ln in lines), name
        digests |= {ln.split()[-1] for ln in lines
                    if ln.startswith("# final table digest ")}
        if trace:
            assert out["metrics"]["trace.unattributed_s"]["value"] >= 0
            carried = "web_verdict.s" if workload == "curate_assemble" else "link.s"
            assert out["metrics"][carried]["value"] > 0
    assert len(digests) == 1


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", "kg_link", "--seed", "3", "--seconds", "1",
              "--trace", "0"], cwd=tmp_path)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
