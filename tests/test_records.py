"""The markdown documents cite BENCH_* / CORRECTNESS_* record files as
evidence; every record they cite must exist."""

from __future__ import annotations

import os
import re
import subprocess

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RECORD = re.compile(r"\b(?:BENCH|CORRECTNESS)_\w*\.json")


def test_markdown_cites_only_existing_records():
    """A line that records the file's deletion may still name it."""
    try:
        docs = subprocess.run(
            ["git", "ls-files", "*.md"], cwd=ROOT, check=True,
            capture_output=True, text=True,
        ).stdout.split()
    except (OSError, subprocess.CalledProcessError):
        pytest.skip("not a git checkout")
    missing = []
    for doc in docs:
        with open(os.path.join(ROOT, doc)) as f:
            for n, line in enumerate(f, 1):
                if re.search(r"(?i)\bdelet", line):
                    continue
                missing += [
                    f"{doc}:{n} {name}"
                    for name in RECORD.findall(line)
                    if not os.path.exists(os.path.join(ROOT, name))
                ]
    assert not missing, missing
