"""Every ``python``/``python3 <path>.py`` command quoted in the docs
names a file that exists in the checkout, and every ``python -m
s1tiling_spark <verb>`` names a CLI verb that exists, so deleting a
script or a verb cannot leave a command behind that fails. No Spark."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
DOCS = ("README.md", "perfbench/README.md", ".claude/skills/verify/SKILL.md")
COMMAND = re.compile(r"\bpython3?\s+([\w./-]+\.py)\b")
CLI_VERB = re.compile(r"\bpython3?\s+-m\s+s1tiling_spark\s+([\w-]+)")


def _commands(pattern: re.Pattern = COMMAND) -> list[tuple[str, int, str]]:
    found = []
    for doc in DOCS:
        for lineno, line in enumerate((ROOT / doc).read_text().splitlines(), 1):
            found += [(doc, lineno, m.group(1)) for m in pattern.finditer(line)]
    return found


def test_doc_commands_point_at_real_files():
    commands = _commands()
    assert commands
    missing = [f"{doc}:{n} runs {script}" for doc, n, script in commands
               if not (ROOT / script).is_file()]
    assert not missing, missing


def test_doc_cli_verbs_exist():
    """argparse answers ``<verb> --help`` before any Spark session
    starts: exit 0 for a real verb, 2 for an unknown one."""
    from s1tiling_spark.__main__ import main

    verbs = _commands(CLI_VERB)
    assert verbs
    for doc, n, verb in verbs:
        with pytest.raises(SystemExit) as exc:
            main([verb, "--help"])
        assert exc.value.code == 0, f"{doc}:{n} runs unknown verb {verb!r}"
