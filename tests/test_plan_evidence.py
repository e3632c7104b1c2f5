"""The plan dumps the optimization write-ups cite exist.

Every ``plans/rNN/<q>_before.txt`` has its ``_after.txt``, and every
plan an ``OPTIMIZATION_rNN.md`` cites — a ``plans/...`` path, or a bare
``<q>_before.txt`` / ``<q>_after.txt`` name, which resolves to
``plans/rNN/`` — is in the repo.
"""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _dangling(rnd: str, text: str) -> list[str]:
    cited = set(re.findall(r"plans/[\w./-]*[\w/]", text))
    cited |= {
        f"plans/{rnd}/{name}"
        for name in re.findall(r"(?<![\w/])(\w+_(?:before|after)\.txt)", text)
    }
    return sorted(c for c in cited if not (REPO / c).exists())


def test_every_before_plan_has_its_after_plan():
    befores = sorted(REPO.glob("plans/r*/*_before.txt"))
    assert befores
    missing = [
        str(p.relative_to(REPO))
        for p in befores
        if not p.with_name(p.name.replace("_before.txt", "_after.txt")).exists()
    ]
    assert not missing, f"before-plans without an after-plan: {missing}"


def test_optimization_docs_cite_existing_plans():
    docs = sorted(REPO.glob("OPTIMIZATION_r*.md"))
    assert docs
    dangling = {
        d.name: _dangling(d.stem.split("_")[1], d.read_text()) for d in docs
    }
    assert not any(dangling.values()), f"cited plans missing: {dangling}"


def test_dangling_citations_are_caught():
    assert _dangling("r18", "see `plans/r18/ann_topk_lsh_before.txt`") == []
    assert _dangling("r18", "see `plans/r18/no_such_query_after.txt`") == [
        "plans/r18/no_such_query_after.txt"
    ]
    assert _dangling("r18", "Plan: `no_such_query_after.txt`") == [
        "plans/r18/no_such_query_after.txt"
    ]
    assert _dangling("r99", "dumps in `plans/r99/`") == ["plans/r99/"]
