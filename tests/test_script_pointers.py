"""Every ``scripts/<name>.py`` that code or a skill note names must exist.

A deleted script leaves its name behind in docstrings, messages and
usage notes; readers then follow a pointer to nothing. Pure Python, no
Spark session.
"""

from __future__ import annotations

import os
import re
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parent.parent
SCRIPT_REF = re.compile(r"\bscripts/(\w+\.py)\b")


def _sources() -> list[Path]:
    """The repo's ``*.py`` files (hidden and cache dirs skipped) plus
    the skill notes under ``.claude/skills``."""
    found = list(REPO_ROOT.glob(".claude/skills/*/SKILL.md"))
    for root, dirs, files in os.walk(REPO_ROOT):
        dirs[:] = [d for d in dirs if not d.startswith(".") and d != "__pycache__"]
        found += [Path(root, f) for f in files if f.endswith(".py")]
    return found


def test_every_named_script_exists():
    sources = _sources()
    assert any(p.name == "plan_budget.py" for p in sources)
    dangling = sorted(
        f"{p.relative_to(REPO_ROOT)}: scripts/{name}"
        for p in sources
        for name in set(SCRIPT_REF.findall(p.read_text(encoding="utf-8")))
        if not (REPO_ROOT / "scripts" / name).is_file()
    )
    assert not dangling, "pointers to missing scripts:\n" + "\n".join(dangling)
