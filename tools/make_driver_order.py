"""Rebuild the driver-window manifest (freshness governance).

The driver's correctness pass verifies only the first 50 registry entries
per round, so coverage rotates through ``operators.DRIVER_ORDER``. Two
rules decide who must be in the upcoming window (both enforced by
``tests/test_registry.py``):

1. **Self-scaling staleness**: every query re-verifies at least every
   P-th round, where P = max(3, ceil(registry / window) + 1) — the
   rotation period grows with the registry so the rule stays satisfiable
   with headroom for ~window/P new queries per round. (History: <=1-round
   staleness became unsatisfiable at 121 queries in round 6 and was
   relaxed to a fixed 3-round rotation, which itself hit exact capacity
   at 144 queries the same round; the ceil() form is the principled
   fix — at 144 queries P = 4, capacity 200.)
2. **Changed source re-verifies**: any query whose governed hash changed
   since the hash recorded at its last window entry must be in the
   window. The hash covers the docstring-free AST of the transitive
   closure (the registered function and every package helper, class,
   constant and nested lambda it reaches), plus the oracle SQL; see
   ``lakehouse_workshop_spark/srchash.py``. Comments, docstrings,
   formatting and ``@query(...)`` keywords do not move it.

This tool (a) prints the stale and changed lists so DRIVER_ORDER can be
rebuilt by hand at round start, and (b) writes
``tools/driver_manifest.json`` mapping each query to the source hash it
will have been verified against: queries inside the new window get their
*current* hash (they are about to be re-verified); queries outside keep
their previous manifest hash (their old row vouches for the old source).

Run at each round start AFTER updating DRIVER_ORDER:

    python tools/make_driver_order.py

``--check`` validates without writing (the manifest is left
byte-identical): exit 0 when no query requiring a window slot sits
outside the window, exit 1 otherwise — the read-only round-start
diagnostic (r14 verdict: the default mode rewriting governance state on
every invocation was a footgun for a diagnostic).
"""

from __future__ import annotations

import json
import sys
from glob import glob
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

MANIFEST = REPO / "tools" / "driver_manifest.json"
DRIVER_WINDOW = 50


def vouched(p: dict, latest_n: int) -> str | None:
    """The hash a REAL driver row vouches for, with the promotion rule
    applied: once a CORRECTNESS row exists for the round an entry was
    staged into (latest_n >= window_round), the staged hash is the
    verified one — whether or not the manifest file has been rewritten
    since the artifact landed. Used by BOTH the validation pass and the
    write loop; validating on the raw ``verified_hash`` field would
    spuriously flag every verified-last-round source change as drifted
    at the next round's start (first hit at r16) and refuse the write."""
    wr = p.get("window_round")
    if wr is not None and latest_n >= wr:
        return p.get("hash")  # the staged hash earned its driver row
    if "verified_hash" in p:
        return p["verified_hash"]
    return p.get("hash") if latest_n > 0 else None


def row_is_green(row: dict) -> bool:
    """A CORRECTNESS row vouches only when the driver actually verified
    it: rows_match/schema_match/hash_match all True and err None (r16
    ADVICE #2 — rows can record failures, and a failed run must not
    vouch a drifted hash as verified). Weaker rows-only checks (err ==
    'no_oracle', r01 era) intentionally do NOT vouch under this rule;
    every currently-registered query has an oracle, so nothing is
    penalized today — revisit if a genuinely non-SQL op registers."""
    return (
        row.get("rows_match") is True
        and row.get("schema_match") is True
        and row.get("hash_match") is True
        and row.get("err") is None
    )


def latest_rows() -> tuple[dict[str, int], int]:
    latest: dict[str, int] = {}
    max_round = 0
    for path in sorted(glob(str(REPO / "CORRECTNESS_r*.json"))):
        rnd = int(Path(path).stem.split("_r")[1])
        max_round = max(max_round, rnd)
        for name, row in json.load(open(path)).items():
            if row_is_green(row):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest, max_round


def main(check_only: bool = False, defer_changed: bool = False) -> None:
    from lakehouse_workshop_spark.operators import all_queries
    from lakehouse_workshop_spark.srchash import registry_hash

    queries = all_queries()
    names = list(queries)
    window = set(names[:DRIVER_WINDOW])
    latest, max_round = latest_rows()

    prev = json.load(open(MANIFEST)) if MANIFEST.exists() else {}
    prev.pop("_meta", None)
    # Three slot-demanding classes (a registry larger than the window makes
    # rotation inevitable; these are the rows that may NOT wait):
    #   stale   — verified before, but the row is >= P rounds behind the
    #             newest recorded round
    #   pending — never driver-verified, INCLUDING queries registered this
    #             round. (History: until round 8 brand-new queries got one
    #             round of grace; the grace expired the moment the next
    #             CORRECTNESS artifact landed, turning the suite red
    #             between the artifact drop and the next builder rotation
    #             — rounds 5 and 7 both hit it. Registration is now atomic
    #             with windowing: this tool refuses to write the manifest
    #             while any never-verified query sits outside the window,
    #             so every query earns a driver row in its birth round.)
    #   changed — source differs from the hash its last row vouched for
    # Verified at round r -> must re-enter the window by building round
    # r + P (P = rotation period), i.e. overdue when latest <= max_round
    # + 1 - P.
    period = max(3, -(-len(names) // DRIVER_WINDOW) + 1)
    horizon = max_round + 1 - period
    stale = [
        n for n in names if 0 < latest.get(n, 0) <= horizon
    ]
    pending = [n for n in names if latest.get(n, 0) == 0]
    # Hash drift only matters for entries a driver row vouches for
    # (window_round set); a pending never-verified query has nothing to
    # invalidate — its hash just refreshes on write.
    # Drift compares against the hash a REAL driver row vouches for
    # (verified_hash), not the staged hash of the latest write: an
    # in-window write refreshes `hash` to current source, so a query
    # whose source changed and which was then DISPLACED from the window
    # in a later same-round write would otherwise compare new-vs-new and
    # escape the changed-source rule entirely (r13 review finding #3).
    # verified_hash only advances when a CORRECTNESS row lands for the
    # round the staged hash was written for — and that promotion must
    # apply HERE too, not only in the write loop below: at round start
    # the previous round's artifact has landed but the manifest file
    # still carries the pre-stage verified_hash, so comparing the raw
    # field would spuriously flag every source-changed-last-round,
    # verified-last-round, out-of-this-window entry as changed and
    # refuse the write (first hit at r16: the 12 r15 consolidation
    # re-verifies + token_counts/token_dist_shift, all r15-green,
    # all correctly outside the r16 window). See :func:`vouched`.
    changed = [
        n
        for n in names
        if n in prev
        and prev[n].get("window_round") is not None
        and vouched(prev[n], latest.get(n, 0)) != registry_hash(n)
    ]
    print(f"registry: {len(names)}, window: {len(window)}, "
          f"latest driver round: r{max_round:02d}")
    print(f"rotation period: {period} rounds (registry {len(names)}, window {DRIVER_WINDOW})")
    print(f"stale (latest row <= r{horizon:02d}): {len(stale)}")
    print(f"  {stale}")
    print(f"pending (never verified, registered <= r{max_round:02d}): {pending}")
    print(f"changed since manifest: {len(changed)}")
    print(f"  {changed}")

    # Validate BEFORE writing: a write with a not-yet-rebuilt DRIVER_ORDER
    # would refresh out-of-window hashes and silently swallow the changed
    # list on the next run.
    #
    # Changed-overflow deferral (r18): a cross-cutting optimization (the
    # r18 conditional corpus-spread views) can drift MORE closures than
    # the window holds — 68 changed vs 50 slots, unsatisfiable by
    # construction. Rather than refusing forever, `--defer-changed` lets
    # the write proceed with every changed-outside-window entry marked
    # ``deferred_round = target_round``: its old verified_hash keeps
    # vouching, the deferral is recorded in the manifest (auditable, the
    # r13 silent-escape failure mode stays impossible), and at the NEXT
    # round's validation a still-drifted deferred entry is a HARD slot
    # demand like stale/pending — it cannot be deferred twice. Stale and
    # pending demands are never deferrable.
    # a deferral recorded for THIS target round (the post-write --check
    # re-reads its own deferral) is current; anything older is overdue
    deferred_due = [
        n
        for n in changed
        if n not in window
        and prev.get(n, {}).get("deferred_round") is not None
        and prev[n]["deferred_round"] < max_round + 1
    ]
    hard = sorted((set(stale + pending) - window) | set(deferred_due))
    deferrable = sorted(set(changed) - window - set(hard))
    if hard:
        print(f"!! queries requiring a window slot but outside it: {hard}")
        if deferred_due:
            print(
                f"!! (already-deferred changed entries cannot defer again:"
                f" {sorted(deferred_due)})"
            )
        print("!! manifest NOT written — rebuild DRIVER_ORDER first")
        sys.exit(1)
    unrecorded = [
        n
        for n in deferrable
        if prev.get(n, {}).get("deferred_round") != max_round + 1
    ]
    if unrecorded and not defer_changed:
        print(
            f"!! changed-source queries outside the window: {unrecorded}\n"
            "!! give them slots, or re-run with --defer-changed to record"
            " an explicit one-round deferral (requires a same-session"
            " full-registry parity run as compensating evidence)"
        )
        print("!! manifest NOT written")
        sys.exit(1)
    if check_only:
        if deferrable:
            print(
                f"--check: {len(deferrable)} changed entries carry a"
                f" recorded deferral to r{max_round + 1:02d}: {deferrable}"
            )
        print("--check: window satisfies all slot demands; manifest untouched")
        return

    manifest = {
        # The governance tests read as_of_round to evaluate staleness as
        # of the state this manifest was built from: a CORRECTNESS
        # artifact landing AFTER this write cannot flip the suite red.
        # The grace ends at the builder's next engine commit (see
        # tests/test_registry.py::test_manifest_rebuilt_after_artifact).
        "_meta": {"as_of_round": max_round, "target_round": max_round + 1},
    }
    for n in names:
        p = prev.get(n, {})
        first_seen = p.get("first_seen_round", max_round + 1)
        latest_n = latest.get(n, 0)
        wr = p.get("window_round")
        # verified_hash promotion: the staged hash earns "verified" only
        # when the driver row for its window_round exists. Until then the
        # previously-verified hash keeps vouching (legacy manifests
        # without the field fall back to the recorded hash when a real
        # row exists at all). Same rule as the validation above.
        vh = vouched(p, latest_n)
        if n in window:
            entry = {
                "hash": registry_hash(n),
                "window_round": max_round + 1,
                "first_seen_round": first_seen,
            }
            # entering the window clears any standing deferral
        elif n in deferrable:
            # changed source, explicitly deferred one round: the old
            # verified_hash keeps vouching (set below via vh) and the
            # deferral mark makes this entry a HARD slot demand at the
            # next round's validation — it cannot escape or defer again.
            entry = {
                **p,
                "first_seen_round": first_seen,
                "deferred_round": max_round + 1,
            }
            if wr is not None and wr > latest_n > 0:
                entry["window_round"] = latest_n
        else:
            # The validation above guarantees anything outside the window
            # is already verified and fresh (fresh = current source
            # matches verified_hash, so displacement cannot swallow a
            # source change — a changed-then-displaced entry fails the
            # validation and the tool refuses to write).
            entry = {**p, "first_seen_round": first_seen}
            # An entry windowed at an earlier write of the SAME round but
            # displaced before the driver ran carries a window_round no
            # driver row backs (r12 left six such entries claiming r12
            # rows they never got). Demote to the newest real row so the
            # record stays honest.
            if wr is not None and wr > latest_n > 0:
                entry["window_round"] = latest_n
        if vh is not None:
            entry["verified_hash"] = vh
        manifest[n] = entry
    MANIFEST.write_text(json.dumps(manifest, indent=1, sort_keys=True) + "\n")
    print(f"wrote {MANIFEST}")


if __name__ == "__main__":
    _args = sys.argv[1:]
    _unknown = [a for a in _args if a not in ("--check", "--defer-changed")]
    if _unknown:
        # A typo of --check must NOT fall through to the default WRITE
        # path — that is the governance-state footgun the flag exists
        # to eliminate.
        print(
            f"unknown arguments: {_unknown} "
            "(only --check / --defer-changed are accepted)"
        )
        sys.exit(2)
    main(
        check_only="--check" in _args,
        defer_changed="--defer-changed" in _args,
    )
