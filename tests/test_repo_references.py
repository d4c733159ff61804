"""Every script, run-log or A/B-record path the code and docs name is real.

A path is named either as it stands in the tree (it must exist) or pinned to
the commit that last held it, written ``<sha>:<path>`` (it must resolve in
git).  Git history keeps every deleted script and log, so a link to one is
repointed at a commit rather than left dangling.

Scanned: the package, ``tests/``, ``scripts/``, ``bench.py``, the verify
skill and the measurement documents.  Named paths are ``scripts/*.py``, the
``bench_ab14/`` A/B records, and root-level run logs (an underscored name
ending ``.log``, ``.stdout``, ``.stderr``, ``.err`` or ``.txt``, or a
``bench_full_*.json``).
"""

import glob
import os
import re
import subprocess

import pytest

ROOT = os.path.normpath(os.path.join(os.path.dirname(__file__), ".."))
DOCS = [
    "README.md", "COVERAGE.md", "SCALE.md", "BASELINE.md",
    "OPTIMIZATION_r13.md", "OPTIMIZATION_r14.md", "VERDICT.md",
]
SOURCES = sorted(
    glob.glob(os.path.join(ROOT, "arthur_redshift_etl_spark", "**", "*.py"), recursive=True)
    # this file holds the patterns, not paths
    + [p for p in glob.glob(os.path.join(ROOT, "tests", "*.py")) if p != os.path.abspath(__file__)]
    + glob.glob(os.path.join(ROOT, "scripts", "*.py"))
    + glob.glob(os.path.join(ROOT, ".*", "skills", "verify", "SKILL.md"))
    + [os.path.join(ROOT, p) for p in ["bench.py", *DOCS]]
)
NAMED = re.compile(
    r"(?:\b(?P<sha>[0-9a-f]{7,40}):)?"
    r"(?P<path>scripts/[\w-]+\.py"
    r"|bench_ab14/[\w.*-]*"
    r"|(?<![\w./-])[A-Za-z][\w-]*_[\w-]*\.(?:log|stdout|stderr|err|txt)\b"
    r"|(?<![\w./-])bench_full_[\w-]+\.json)"
)


def named_paths():
    """(source:line, sha or None, path) for every path the sources name."""
    found = []
    for src in SOURCES:
        if not os.path.exists(src):
            continue
        with open(src, encoding="utf-8") as fh:
            for lineno, line in enumerate(fh, 1):
                for m in NAMED.finditer(line):
                    where = f"{os.path.relpath(src, ROOT)}:{lineno}"
                    found.append((where, m.group("sha"), m.group("path").rstrip("/")))
    return found


def test_sources_found():
    assert len(SOURCES) > 50
    assert any(sha is None for _, sha, _ in named_paths())


def test_unpinned_paths_exist():
    missing = [
        f"{where}: {path}" for where, sha, path in named_paths()
        if sha is None and not os.path.exists(os.path.join(ROOT, path))
    ]
    assert not missing, "name a deleted file as <sha>:<path>:\n" + "\n".join(missing)


def test_pinned_paths_resolve_in_git():
    pinned = [(where, f"{sha}:{path}") for where, sha, path in named_paths() if sha]
    if not pinned:
        return
    try:
        proc = subprocess.run(
            ["git", "-C", ROOT, "cat-file", "--batch-check"],
            input="".join(f"{obj}\n" for _, obj in pinned),
            capture_output=True, text=True, check=True,
        )
    except (OSError, subprocess.CalledProcessError):
        pytest.skip("no git history to resolve pinned paths in")
    answers = proc.stdout.splitlines()
    assert len(answers) == len(pinned)
    bad = [f"{where}: {obj}" for (where, obj), ans in zip(pinned, answers)
           if ans.endswith("missing") or "ambiguous" in ans]
    assert not bad, "pinned paths not in git:\n" + "\n".join(bad)
