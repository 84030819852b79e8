"""Every ``tools/*.py`` / ``tools/*.sh`` path the run docs name exists,
so deleting or renaming a tool means updating the docs that teach it."""

from __future__ import annotations

import os
import re

import pytest

from conftest import REPO

DOCS = ["README.md", "docs/RUNBOOK.md", ".claude/skills/verify/SKILL.md"]
TOOL_PATH = re.compile(r"\btools/[\w./-]+\.(?:py|sh)\b")


def test_tool_path_pattern():
    text = "run `python tools/ab.py A B` then tools/verify_head.sh; not tools/"
    assert TOOL_PATH.findall(text) == ["tools/ab.py", "tools/verify_head.sh"]


@pytest.mark.parametrize("doc", DOCS)
def test_doc_names_only_existing_tools(doc):
    with open(os.path.join(REPO, doc)) as fh:
        named = set(TOOL_PATH.findall(fh.read()))
    assert named, f"{doc} names no tools/ path: is the pattern stale?"
    missing = sorted(p for p in named
                     if not os.path.exists(os.path.join(REPO, p)))
    assert missing == [], f"{doc} names deleted tools: {missing}"
