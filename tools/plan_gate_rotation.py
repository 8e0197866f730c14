#!/usr/bin/env python
"""Compute the next round's driver-gate window from the recorded
CORRECTNESS_r*.json history (r12: the rotation standing rules are
mechanical, the judge re-verifies the composition every round, and
hand-building the 50-name list is the one step that can silently go
wrong — see the r9 round, where the window simply wasn't rotated).

    python tools/plan_gate_rotation.py [--changed a,b,...] [--check]

Standing rules (VERDICT r10/r11, pinned in tests/test_registry_gate.py):

1. Names whose PLAN or ORACLE changed this round front the window
   (supplied via --changed — the history can't know them).
2. Then oracle-backed names ordered by staleness: oldest newest-driver-
   row round first, alphabetical within a round. A name with no driver
   row at all counts as round 0 (stalest possible).
3. Rows-only (no-oracle) names sort after EVERY oracle-backed name,
   both inside the 50-slot window (contiguous tail only) and behind it.

Output: the ordered window (with per-name provenance) plus the full
permutation tail summary. --check instead verifies that
registry._GATE_PRIORITY's induced order already IS the computed one
for the window slice, and exits nonzero with a diff if not — run it
at round start, paste the emitted list, re-run with --check. Without
--changed, --check takes the fronted names from the
``# changed-this-round`` tags this tool writes into the pasted list.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

sys.path.insert(0, ".")

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = 50


def newest_rows(upto: int | None = None) -> dict[str, int]:
    """name -> newest round with a driver (or driver-format) row.
    ``upto`` truncates the history at that round (inclusive) — used by
    --check to recognize the normal end-of-round state where the
    registry still holds last round's window."""
    newest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        if upto is not None and rnd > upto:
            continue
        try:
            data = json.load(open(path))
        except (OSError, json.JSONDecodeError):
            continue
        for name in data:
            newest[name] = max(newest.get(name, 0), rnd)
    return newest


def latest_round() -> int:
    """Highest round number with a committed CORRECTNESS file."""
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))
        if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", p))
    ]
    return max(rounds, default=0)


def plan(changed: list[str], upto: int | None = None) -> list[tuple[str, str]]:
    """[(name, provenance)] for the full permutation, window first."""
    from cdc_kafka_project_spark.registry import ORACLES, all_queries

    names = list(all_queries())
    rows = newest_rows(upto)
    changed_set = set(changed)
    unknown = changed_set - set(names)
    if unknown:
        raise SystemExit(f"--changed names not in registry: {sorted(unknown)}")

    def provenance(n: str) -> str:
        r = rows.get(n, 0)
        return f"r{r}" if r else "never-checked"

    # Rule 3 dominates rule 1 (r12 advisor, low): a changed NO-ORACLE
    # name must not front the window — the pinned gate invariant
    # (test_registry_gate.test_no_oracle_names_confined_to_window_tail)
    # requires every no-oracle name to sort after every oracle-backed
    # one. Changed no-oracle names head their own (no-oracle) tier
    # instead, with a warning.
    changed_no_oracle = [n for n in changed if n not in ORACLES]
    if changed_no_oracle:
        print(
            f"WARN: changed name(s) without an oracle stay in the "
            f"no-oracle tail tier (pinned rule 3): {changed_no_oracle}",
            file=sys.stderr,
        )
    fronted = [
        (n, f"changed-this-round ({provenance(n)})")
        for n in changed
        if n in ORACLES
    ]
    oracle_rest = sorted(
        (n for n in names if n in ORACLES and n not in changed_set),
        key=lambda n: (rows.get(n, 0), n),
    )
    no_oracle = sorted(
        (n for n in names if n not in ORACLES and n not in changed_set),
        key=lambda n: (rows.get(n, 0), n),
    )
    out = fronted
    out += [(n, provenance(n)) for n in oracle_rest]
    out += [
        (n, f"changed-this-round ({provenance(n)}) (no oracle)")
        for n in changed_no_oracle
    ]
    out += [(n, f"{provenance(n)} (no oracle)") for n in no_oracle]
    return out


def tagged_changed() -> list[str]:
    """The fronted names of the committed window, in order: the
    ``_GATE_PRIORITY`` entries of registry.py tagged
    ``# changed-this-round`` (the provenance this tool prints)."""
    src = open(os.path.join(ROOT, "cdc_kafka_project_spark", "registry.py")).read()
    return re.findall(r'^\s*"([^"]+)",\s*# changed-this-round', src, re.M)


def main() -> int:
    args = sys.argv[1:]
    changed: list[str] = []
    if "--changed" in args:
        i = args.index("--changed")
        changed = [n for n in args[i + 1].split(",") if n]
        args = args[:i] + args[i + 2 :]
    check = "--check" in args
    if check and not changed:
        changed = tagged_changed()

    ordered = plan(changed)
    window = ordered[:WINDOW]

    if check:
        from cdc_kafka_project_spark.registry import _GATE_PRIORITY, all_queries

        listed = set(_GATE_PRIORITY)
        current = [n for n in _GATE_PRIORITY if n in set(all_queries())]
        current += [n for n in all_queries() if n not in listed]
        want = [n for n, _ in window]
        got = current[:WINDOW]
        if got == want:
            print(f"OK: _GATE_PRIORITY window matches the computed "
                  f"rotation ({WINDOW} slots, {len(changed)} fronted)")
            return 0
        # Disambiguate the normal end-of-round state (r12 verdict,
        # "What's wrong" #1): after the driver commits CORRECTNESS_rN,
        # the registry still holds the rN window while the tool now
        # computes rN+1 — stale by exactly one round, NOT a failed
        # invariant. Detect it by recomputing against the history
        # truncated before rN. The history does not record which
        # names the committed window fronted, so treat each prefix of
        # the registry window as the candidate fronted set and test
        # whether the remainder is exactly last round's computed
        # staleness order.
        latest = latest_round()
        if latest > 0:
            # Try every fronted-prefix size below the full window (r13
            # advisor: a committed window that fronted more than 10
            # changed names was misreported as never-rotated instead of
            # stale-by-one). k = WINDOW is excluded: a window that is
            # all prefix matches any window.
            for k in range(0, WINDOW):
                try:
                    prev = [
                        n for n, _ in plan(got[:k], upto=latest - 1)
                    ][:WINDOW]
                except SystemExit:
                    break
                if got == prev:
                    fronted = f" ({k} fronted)" if k else ""
                    print(
                        f"STALE-BY-ONE-ROUND (normal end-of-round "
                        f"state): the registry holds the r{latest} "
                        f"window{fronted}; the computed r{latest + 1} "
                        f"rotation is due. Run without --check and "
                        f"paste the emitted window."
                    )
                    return 1
        print("MISMATCH between _GATE_PRIORITY[:50] and the computed window")
        print("(neither the current rotation nor last round's — the window"
              " was never rotated, or was hand-edited):")
        for i, (w, g) in enumerate(zip(want, got)):
            if w != g:
                print(f"  slot {i}: computed {w!r} != registry {g!r}")
        return 1

    print(f"# next gate window ({WINDOW} slots; "
          f"{len(changed)} changed-this-round fronted)")
    for n, why in window:
        print(f'    "{n}",  # {why}')
    tail = ordered[WINDOW:]
    by_round: dict[str, int] = {}
    for _, why in tail:
        key = why.split()[0]
        by_round[key] = by_round.get(key, 0) + 1
    print(f"# tail ({len(tail)} names) newest-row distribution: "
          + ", ".join(f"{k}:{v}" for k, v in sorted(by_round.items())))
    return 0


if __name__ == "__main__":
    sys.exit(main())
