"""Registry governance tests.

Round 2's verdict flagged that 25 of 75 registered queries had never
received a driver correctness row because the driver verifies only the
first 50 registry entries. These tests pin the invariants that prevent
that gap from reopening: the explicit order list is well-formed, and
every registered query is covered by the union of the previous round's
recorded rows and the current 50-entry window.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

from lakehouse_workshop_spark import operators as ops

DRIVER_WINDOW = 50
MANIFEST_PATH = str(REPO / "tools" / "driver_manifest.json")


def _correctness_files() -> list[str]:
    from glob import glob

    return sorted(glob(str(REPO / "CORRECTNESS_r*.json")))


def _manifest() -> dict:
    return json.load(open(MANIFEST_PATH)) if os.path.exists(MANIFEST_PATH) else {}


def _eff_round(max_round: int, manifest: dict) -> int:
    """The round governance evaluates AS OF.

    A CORRECTNESS artifact lands between builder sessions; until the
    builder's next commit the staleness/pending clocks stay pinned to the
    round the manifest was built from, so an artifact drop alone can
    never flip these tests red (rounds 5 and 7 both went red exactly this
    way). test_manifest_rebuilt_after_artifact ends the grace at the
    builder's next engine commit."""
    as_of = manifest.get("_meta", {}).get("as_of_round", max_round)
    return min(max_round, as_of)


def test_driver_order_is_duplicate_free_and_registered():
    assert len(ops.DRIVER_ORDER) == len(set(ops.DRIVER_ORDER))
    registered = set(ops.all_queries())
    missing = [n for n in ops.DRIVER_ORDER if n not in registered]
    assert not missing, f"DRIVER_ORDER names not registered: {missing}"


def test_window_union_covers_every_registered_query():
    """Every registered query has a driver row already (any recorded round),
    sits in the upcoming window, or is brand-new this round (recorded as
    pending in the manifest — the staleness test hardens that grace to
    exactly one round). Nothing ships unverified for more than a round."""
    files = _correctness_files()
    if not files:
        return
    seen: set[str] = set()
    max_round = 0
    for path in files:
        seen |= set(json.load(open(path)))
        max_round = max(
            max_round, int(os.path.basename(path).split("_r")[1].split(".")[0])
        )
    names = list(ops.all_queries())
    window = set(names[:DRIVER_WINDOW])
    manifest = _manifest()
    eff = _eff_round(max_round, manifest)
    uncovered = [
        n
        for n in names
        if n not in seen
        and n not in window
        and manifest.get(n, {}).get("first_seen_round", 0) <= eff
    ]
    assert not uncovered, (
        "registered queries with no driver row in ANY recorded round, outside "
        f"the current {DRIVER_WINDOW}-entry window, and older than this round: "
        f"{uncovered} — move them into DRIVER_ORDER's window or they ship "
        "unverified"
    )


def test_stale_queries_lead_the_window():
    """Self-scaling staleness: every query re-verifies at least every
    P-th round, P = max(3, ceil(registry / window) + 1) — a query whose
    latest driver row is P or more rounds old must sit inside the
    upcoming 50-entry window. Derived from the recorded
    CORRECTNESS_r*.json files, so the rule re-evaluates itself each
    round without hand-maintained lists.

    Cadence rationale: the original <=1-round rule became unsatisfiable
    at 121 queries in round 6 (it demanded 71 of 50 slots), and the
    fixed 3-round rotation that replaced it hit exact capacity (150) at
    144 queries the same round — every future round would have spent
    its entire window on staleness with zero budget for new queries or
    out-of-window rewrites. Deriving P from the registry size keeps the
    rule satisfiable with ~window/P slots of headroom per round while
    still bounding how long any row can go unre-verified."""
    from glob import glob

    latest: dict[str, int] = {}
    max_round = 0
    for path in sorted(glob(str(REPO / "CORRECTNESS_r*.json"))):
        rnd = int(os.path.basename(path).split("_r")[1].split(".")[0])
        max_round = max(max_round, rnd)
        for name in json.load(open(path)):
            latest[name] = max(latest.get(name, 0), rnd)
    if not max_round:
        return
    names = list(ops.all_queries())
    window = set(names[:DRIVER_WINDOW])
    manifest = _manifest()
    eff = _eff_round(max_round, manifest)
    # Verified-before queries go overdue when their latest row is P or
    # more rounds old (see docstring); never-verified queries go overdue
    # once the manifest has been rebuilt with them registered (since
    # round 8, make_driver_order.py refuses to write while any
    # never-verified query is outside the window, so registration and
    # windowing are atomic). Both clocks run on eff, the round the
    # manifest was built as of, so an artifact drop alone cannot trip
    # this test.
    period = max(3, -(-len(names) // DRIVER_WINDOW) + 1)
    horizon = eff + 1 - period
    overdue = [
        n
        for n in names
        if n not in window
        and (
            0 < latest.get(n, 0) <= horizon
            or (
                latest.get(n, 0) == 0
                and manifest.get(n, {}).get("first_seen_round", eff + 1) <= eff
            )
        )
    ]
    assert not overdue, (
        f"queries whose driver coverage violates the staleness rule and are "
        f"outside the {DRIVER_WINDOW}-entry window: {overdue} — rebuild "
        "DRIVER_ORDER with tools/make_driver_order.py"
    )


def test_manifest_rebuilt_after_artifact():
    """The staleness grace that _eff_round grants when a CORRECTNESS
    artifact is newer than the manifest lasts exactly until the builder's
    next engine commit: committing engine work on top of a fresh artifact
    without rerunning tools/make_driver_order.py is the round-5/round-7
    failure mode, and it fails loudly here instead of two tests away."""
    import subprocess

    files = _correctness_files()
    manifest = _manifest()
    if not files or not manifest:
        return
    max_round = max(
        int(os.path.basename(p).split("_r")[1].split(".")[0]) for p in files
    )
    as_of = manifest.get("_meta", {}).get("as_of_round")
    assert as_of is not None, (
        "tools/driver_manifest.json has no _meta.as_of_round stamp — "
        "rerun tools/make_driver_order.py"
    )
    if as_of >= max_round:
        return  # manifest is current; the strict tests above apply

    def last_commit_ts(*paths: str) -> int:
        out = subprocess.run(
            ["git", "log", "-1", "--format=%ct", "--", *paths],
            capture_output=True,
            text=True,
            cwd=str(REPO),
        ).stdout.strip()
        return int(out) if out else 0

    newest_artifact = max(
        files, key=lambda p: int(os.path.basename(p).split("_r")[1].split(".")[0])
    )
    t_artifact = last_commit_ts(newest_artifact) or int(
        os.path.getmtime(newest_artifact)
    )
    t_engine = last_commit_ts(
        "lakehouse_workshop_spark", "tools", "bench.py", "__spark_entry__.py"
    )
    assert t_engine <= t_artifact, (
        f"CORRECTNESS_r{max_round:02d} landed after the manifest was built "
        f"(as of r{as_of:02d}) and engine commits have since been made — the "
        "first engine commit of a round must include the window rotation: "
        "rebuild DRIVER_ORDER and rerun tools/make_driver_order.py"
    )


def test_changed_source_is_in_window():
    """Changed-source rule: a query whose governed source — the transitive
    package closure of the registered function (shared module helpers,
    constants, nested lambdas) plus the expanded oracle SQL — differs from
    the hash recorded at its last window entry must re-enter the window:
    its old driver row vouches for code that no longer runs. (Until round
    11 this hashed only the function body, which is how the r10
    ``_pq_knobs`` helper edit changed ivf_pq_topk's behavior with zero
    hash drift — r10 verdict "What's wrong #1".)"""
    from lakehouse_workshop_spark.srchash import governed_source_hash

    manifest_path = str(REPO / "tools" / "driver_manifest.json")
    if not os.path.exists(manifest_path):
        return
    manifest = json.load(open(manifest_path))
    target_round = manifest.get("_meta", {}).get("target_round")
    queries = ops.all_queries()
    oracles = ops.all_oracles()
    names = list(queries)
    window = set(names[:DRIVER_WINDOW])
    drifted = []
    for n, fn in queries.items():
        cur = governed_source_hash(fn, oracles.get(n))
        if (
            n in manifest
            # pending entries (window_round None) were never verified —
            # no driver row exists for the old hash to vouch for
            and manifest[n].get("window_round") is not None
            # compare against the hash a REAL driver row vouches for —
            # the staged hash of the latest write would let a
            # changed-then-displaced query escape (r13 review finding #3)
            and manifest[n].get("verified_hash", manifest[n]["hash"]) != cur
            and n not in window
            # an EXPLICIT one-round deferral recorded by
            # make_driver_order --defer-changed (r18: a cross-cutting
            # view optimization drifted 68 closures — more than the
            # window holds; the deferral is auditable in the manifest
            # and becomes a hard slot demand at the next round, so the
            # r13 silent-escape failure mode stays impossible)
            and manifest[n].get("deferred_round") != target_round
        ):
            drifted.append(n)
    assert not drifted, (
        f"queries whose source changed since their manifest hash but are "
        f"outside the window: {drifted} — rerun tools/make_driver_order.py "
        "and give them a window slot (or record a --defer-changed deferral)"
    )


def test_never_verified_queries_are_windowed():
    """Atomic-registration invariant (since round 8): whenever the
    manifest is current, EVERY query with no driver row sits inside the
    upcoming window — make_driver_order.py refuses to write otherwise —
    so a new registration is always verified in its birth round. The
    only state where a never-verified query may sit outside the window
    is the artifact-just-landed grace, which
    test_manifest_rebuilt_after_artifact bounds at one engine commit."""
    files = _correctness_files()
    if not files:
        return
    seen: set[str] = set()
    max_round = 0
    for path in files:
        seen |= set(json.load(open(path)))
        max_round = max(
            max_round, int(os.path.basename(path).split("_r")[1].split(".")[0])
        )
    manifest = _manifest()
    if manifest.get("_meta", {}).get("as_of_round", 0) < max_round:
        return  # grace window; bounded by test_manifest_rebuilt_after_artifact
    names = list(ops.all_queries())
    window = set(names[:DRIVER_WINDOW])
    unwindowed = [n for n in names if n not in seen and n not in window]
    assert not unwindowed, (
        f"never-driver-verified queries outside the window: {unwindowed} — "
        "add them to DRIVER_ORDER and rerun tools/make_driver_order.py"
    )


def test_make_driver_order_check_is_read_only():
    """``--check`` (r14 verdict ask #6) validates without writing: the
    manifest must be byte-identical after the run — a round-start
    diagnostic that mutates governance state is a footgun (the r13
    verdict's prescribed --check form was silently ignored and
    rewrote the manifest on every invocation)."""
    import subprocess
    import sys as _sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    manifest_path = os.path.join(repo, "tools", "driver_manifest.json")
    before = open(manifest_path, "rb").read()
    proc = subprocess.run(
        [_sys.executable, os.path.join(repo, "tools", "make_driver_order.py"),
         "--check"],
        capture_output=True,
        text=True,
        cwd=repo,
    )
    after = open(manifest_path, "rb").read()
    assert before == after, "--check must leave the manifest byte-identical"
    # exit 0 (window satisfies demands) or 1 (slots missing) are both
    # legitimate validation outcomes — but each must show its banner,
    # else an uncaught exception (also exit 1) would pass as a verdict.
    assert proc.returncode in (0, 1), proc.stderr
    assert "Traceback" not in proc.stderr, proc.stderr
    if proc.returncode == 0:
        assert "manifest untouched" in proc.stdout
    else:
        assert "manifest NOT written" in proc.stdout
    # a typo of --check must refuse loudly, not fall through to the
    # write path
    typo = subprocess.run(
        [_sys.executable, os.path.join(repo, "tools", "make_driver_order.py"),
         "--chekc"],
        capture_output=True,
        text=True,
        cwd=repo,
    )
    assert typo.returncode == 2, (typo.returncode, typo.stdout)
    assert open(manifest_path, "rb").read() == before


def test_scale_path_targets_resolve():
    paths = ops.all_scale_paths()
    assert paths, "scale-path registry should map each baseline to a twin"
    registered = set(ops.all_queries())
    assert set(paths).issubset(registered)
    assert set(paths.values()).issubset(registered)


def test_plans_md_current():
    """Plan-audit atomicity: every audited (non-streaming) query's
    governed hash must match the footer PLANS.md recorded at generation,
    so a query rewrite cannot ship without regenerating its plan row.
    The hash covers the docstring-free AST of the transitive closure,
    plus the oracle SQL (srchash.py): a helper edit that could change a
    dependent query's physical plan forces that query's plan row to
    regenerate too, and a comment or docstring edit does not."""
    import re

    from lakehouse_workshop_spark.srchash import governed_source_hash

    plans = os.path.join(os.path.dirname(__file__), "..", "PLANS.md")
    txt = open(plans).read()
    recorded = dict(re.findall(r"<!-- hash (\S+) ([0-9a-f]{16}) -->", txt))
    assert recorded, "PLANS.md has no source-hash footer — rerun tools/plan_audit.py"
    oracles = ops.all_oracles()
    stale, missing = [], []
    for name, fn in ops.all_queries().items():
        if name.startswith("streaming_"):
            continue
        h = governed_source_hash(fn, oracles.get(name))
        if name not in recorded:
            missing.append(name)
        elif recorded[name] != h:
            stale.append(name)
    assert not missing and not stale, (
        f"PLANS.md out of date — missing: {missing}, stale: {stale}; "
        "rerun tools/plan_audit.py"
    )


def test_vouched_hash_promotes_on_landed_artifact():
    """r16 governance fix: `make_driver_order.vouched` must treat the
    staged hash as verified once a driver row exists for the staged
    round (latest >= window_round) — even though the manifest file's
    `verified_hash` field only updates on the next write. Validating on
    the raw field spuriously flagged all 14 of r15's verified-in-window
    source changes as drifted at r16 start and refused the manifest."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "make_driver_order", str(REPO / "tools" / "make_driver_order.py")
    )
    mdo = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mdo)

    staged = {"hash": "new", "verified_hash": "old", "window_round": 15}
    # artifact for r15 landed -> staged hash is the vouched one
    assert mdo.vouched(staged, 15) == "new"
    # artifact not yet landed (staged for 16, latest row is 15) -> the
    # previously-verified hash keeps vouching
    assert mdo.vouched({**staged, "window_round": 16}, 15) == "old"
    # never verified at all -> nothing vouches
    assert mdo.vouched({"hash": "new"}, 0) is None
    # legacy entry without verified_hash: staged for 12 but latest row
    # is 11 -> falls through to the recorded hash (a real row exists)
    assert mdo.vouched({"hash": "h", "window_round": 12}, 11) == "h"


def test_query_decorator_rejects_duplicate_name():
    """r16 verdict ask #1: ``query()`` must raise on a duplicate name.
    The old silent ``QUERIES[name] = fn`` overwrite is how a 66-line
    pasted duplicate of token_budget_plan_mixture registered twice with
    no error in r16 — and in the bad case a collision would silently
    shadow a DIFFERENT operator while its oracle and tests kept passing
    against the survivor."""
    import pytest

    name = "monthly_sales"  # any already-registered name
    ops.all_queries()
    assert name in ops.QUERIES
    before = ops.QUERIES[name]
    with pytest.raises(ValueError, match="duplicate query registration"):

        @ops.query(name)
        def shadow(spark, sf_dir):  # pragma: no cover - must not register
            raise AssertionError("unreachable")

    assert ops.QUERIES[name] is before  # survivor untouched


def test_registry_has_no_duplicate_decorations():
    """Every @query decoration engine-wide registers a unique name: with
    the duplicate guard in place, a successful import of the full
    operator package IS the proof (a pasted duplicate block now fails at
    import time instead of silently overwriting). This test pins that
    the import still succeeds and the registry is exactly its names."""
    queries = ops.all_queries()
    assert len(queries) == len(set(queries))  # dict invariant, explicit


def test_correctness_row_vouches_only_when_green():
    """r16 ADVICE #2: a CORRECTNESS row vouches a staged hash as
    verified only when the driver actually verified it — rows carry
    rows_match/schema_match/hash_match/err and can record failures, and
    a failed run must not promote a drifted hash for governance."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "make_driver_order", str(REPO / "tools" / "make_driver_order.py")
    )
    mdo = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mdo)

    green = {
        "rows_match": True,
        "schema_match": True,
        "hash_match": True,
        "err": None,
    }
    assert mdo.row_is_green(green)
    # each observed failure/weak shape must NOT vouch
    assert not mdo.row_is_green({**green, "hash_match": False})
    assert not mdo.row_is_green({**green, "rows_match": False})
    assert not mdo.row_is_green({**green, "schema_match": False})
    assert not mdo.row_is_green(
        {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "err": "no_oracle",
        }
    )
    assert not mdo.row_is_green({**green, "err": "boom"})
