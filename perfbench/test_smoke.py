"""Self-check of the benchmark: runs ``run.py --smoke`` once and checks that

* every metric named in BENCHMARK.json is printed with its unit, for each
  workload (end-to-end metrics untraced, per-layer metrics traced);
* every run's correctness checks passed;
* the traced runs' spans nest: each parent id resolves to a span of the
  same run whose interval contains the child's;
* the layer replay reproduced the program's clusters (replay fidelity).

    python -m pytest perfbench/test_smoke.py -q     (about 3 minutes on 4 cores)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def _telemetry(stdout: str) -> list[dict]:
    return [json.loads(line[len("telemetry "):]) for line in stdout.splitlines() if line.startswith("telemetry ")]


def test_smoke_prints_every_metric_and_checks_pass(tmp_path):
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--smoke", "--seed", "3"],
        cwd=tmp_path,  # the benchmark must not depend on the working directory
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"], result

    names = {w["name"] for w in bench["workloads"]}
    assert set(result["smoke"]) == names
    want = {"0": bench["end_to_end"], "1": bench["per_layer"]}
    for wl, runs in result["smoke"].items():
        for trace, specs in want.items():
            run = runs[trace]
            assert run["correct"] and run["failed"] == 0 and run["attempted"] >= 1, (wl, trace, run)
            got = run["metrics"]
            assert set(got) == {m["name"] for m in specs}, (wl, trace)
            for m in specs:
                assert got[m["name"]]["unit"] == m["unit"], (wl, m["name"])
                assert isinstance(got[m["name"]]["value"], (int, float)), (wl, m["name"])

    tel = _telemetry(proc.stdout)
    assert len(tel) == 2 * len(names)
    traced = [t for t in tel if "replay_fidelity" in t]
    assert len(traced) == len(names)
    for t in traced:
        assert t["replay_fidelity"] is True
        with open(t["spans_file"]) as fh:
            spans = [json.loads(line) for line in fh]
        ids = {s["id"]: s for s in spans}
        assert len({s["run_id"] for s in spans}) == 1
        for s in spans:
            if s["parent"] is not None:
                p = ids[s["parent"]]
                assert p["start"] <= s["start"] <= s["end"] <= p["end"], (s, p)
        assert t["spans_nest"] is True
