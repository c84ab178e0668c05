"""Every ``scripts/<name>.py`` that the live docs or the code name must
exist.  Historical records (ROADMAP, SURVEY, VERDICT, CHANGES, BENCH/)
may cite removed scripts and are not scanned."""

from __future__ import annotations

import glob
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_REF = re.compile(r"scripts/([A-Za-z0-9_]+\.py)")


def _scanned() -> list:
    files = [os.path.join(REPO, p) for p in
             ("README.md", os.path.join(".claude", "skills", "verify",
                                        "SKILL.md"), "bench.py")]
    for pkg in ("inclusionreferenceskg_spark", "scripts"):
        files += glob.glob(os.path.join(REPO, pkg, "**", "*.py"),
                           recursive=True)
    return [f for f in files if os.path.exists(f)]


def test_named_scripts_exist():
    missing = []
    for path in _scanned():
        with open(path, encoding="utf-8") as f:
            for name in _REF.findall(f.read()):
                if not os.path.exists(os.path.join(REPO, "scripts", name)):
                    missing.append((os.path.relpath(path, REPO), name))
    assert not missing, missing


def test_guard_sees_references():
    # the scan must actually reach the docs: the README names submit.py
    refs = set()
    for path in _scanned():
        with open(path, encoding="utf-8") as f:
            refs.update(_REF.findall(f.read()))
    assert {"submit.py", "bench_scaling_watcher.py"} <= refs
