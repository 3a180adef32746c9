"""tools/scale_probe: its table, the tool paths the docs cite, and one
end-to-end row."""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys

from tests.conftest import SF_SMOKE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_scale_probe_rows_resolve():
    # every cell names a registered query or an importable engine callable
    from tools.scale_probe import ROWS, resolve

    for name, row in ROWS.items():
        for cell, (target, _make) in row.cells.items():
            assert callable(resolve(target)), (name, cell, target)


def test_cited_tools_exist():
    # a `tools/<name>.py` or `tools.<name>` citation must name a file on
    # disk; `git show <commit>:tools/<name>.py` cites a deleted one on
    # purpose and is skipped by the lookbehind
    docs = ["SCALE.md", "README.md", "OPERATING.md", "BASELINE.md", "bench.py",
            ".claude/skills/verify/SKILL.md"]
    paths = [os.path.join(ROOT, d) for d in docs]
    paths += glob.glob(os.path.join(ROOT, "spark_ml_helper_spark", "**", "*.py"), recursive=True)
    paths += glob.glob(os.path.join(ROOT, "tools", "*.py"))
    missing = []
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            text = fh.read()
        for m in re.finditer(r"(?<![\w:/.])tools[/.]([A-Za-z_]\w*)", text):
            if not os.path.exists(os.path.join(ROOT, "tools", m.group(1) + ".py")):
                missing.append((os.path.relpath(path, ROOT), m.group(0)))
    assert not missing, missing


def test_scale_probe_smoke(tmp_path):
    # the cheapest replicated row at factor 2 on the smoke fixture: one
    # JSON line per (cell, scale), no error, and the invariant holds
    from tools.scale_probe import ROWS

    row = "incremental"
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF_SMOKE, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-m", "tools.scale_probe", row, "2"],
        capture_output=True, text=True, cwd=ROOT, env=env, timeout=600,
    )
    lines = [json.loads(ln) for ln in out.stdout.splitlines()]
    cells = [r for r in lines if "cell" in r]
    assert sorted((r["cell"], r["scale"]) for r in cells) == sorted(
        (c, s) for c in ROWS[row].cells for s in (1, 2)
    )
    assert not [r for r in cells if "error" in r], cells
    assert lines[-1]["holds"] and out.returncode == 0, out.stdout
