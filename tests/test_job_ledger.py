"""The per-contract job ledger is the regression gate on framework
work: a fresh ``tools_job_ledger.py`` run must reproduce the committed
``job_ledger.json`` exactly — the jobs every declared contract
launches while it is built, and the jobs, stages and tasks its action
runs. Counts are deterministic at fixed data and parallelism, so any
difference is a change in what the engine does, not host noise. A
change that moves a count on purpose regenerates the ledger
(``python tools_job_ledger.py``) and says so in CHANGES.md.

The run also builds and executes every contract, so a contract that
errors fails here too."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _diff(want: dict, got: dict) -> list[str]:
    lines = []
    for name in sorted(want.keys() | got.keys()):
        w, g = want.get(name), got.get(name)
        if w is None or g is None:
            lines.append(f"{name}: {w} -> {g}")
            continue
        lines += [
            f"{name}.{f} {w.get(f)} -> {g.get(f)}"
            for f in sorted(w.keys() | g.keys())
            if w.get(f) != g.get(f)
        ]
    return lines


def test_job_ledger_matches(tmp_path):
    out = tmp_path / "job_ledger.json"
    run = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools_job_ledger.py"), str(out)],
        cwd=tmp_path,
        capture_output=True,
        text=True,
    )
    assert run.returncode == 0, run.stderr[-4000:]
    with open(os.path.join(ROOT, "job_ledger.json")) as fh:
        want = json.load(fh)
    with open(out) as fh:
        got = json.load(fh)
    diff = _diff(want["contracts"], got["contracts"])
    assert not diff, "job counts moved:\n" + "\n".join(diff)
    assert got == want
