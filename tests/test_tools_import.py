"""Every tools/*.py module imports cleanly, without running its main.

The tools import shared helpers (the bench protocol in bench.py, the
provenance stamp) at module level, so a helper that is renamed or removed
fails here instead of at a tool's next scale run.
"""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_tool_module_imports():
    code = (
        "import importlib, pathlib\n"
        "for p in sorted(pathlib.Path('tools').glob('*.py')):\n"
        "    importlib.import_module('tools.' + p.stem)\n"
    )
    proc = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
