"""Every ``python``/``python3 <path>.py`` command quoted in the docs
names a file that exists in the checkout, so deleting a script cannot
leave a command behind that fails. No Spark."""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DOCS = ("README.md", "perfbench/README.md", ".claude/skills/verify/SKILL.md")
COMMAND = re.compile(r"\bpython3?\s+([\w./-]+\.py)\b")


def _commands() -> list[tuple[str, int, str]]:
    found = []
    for doc in DOCS:
        for lineno, line in enumerate((ROOT / doc).read_text().splitlines(), 1):
            found += [(doc, lineno, m.group(1)) for m in COMMAND.finditer(line)]
    return found


def test_doc_commands_point_at_real_files():
    commands = _commands()
    assert commands
    missing = [f"{doc}:{n} runs {script}" for doc, n, script in commands
               if not (ROOT / script).is_file()]
    assert not missing, missing
