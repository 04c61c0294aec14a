"""Certification ledger: union the driver's CORRECTNESS_r*.json receipts.

For every registered query, reports its best driver outcome across all
rounds plus the local-gate waiver status:

- GREEN      driver hash_match=true in some round
- ROWS-ONLY  driver rows-only pass AND the query is registered oracle=None
             (documented waiver, see registry)
- FAILED     latest driver row was red (hash mismatch or error)
- QUEUED     never had a driver row; the registry rotation
             (__spark_entry__.ordered_defs) pushes these into the next round's
             50-query window

Tiers (r8): every row is labeled headline/long_tail (registry.tier), and a
per-tier staleness summary reports max(current round − last green round)
against registry.STALENESS_BUDGET — the scheduling contract
__spark_entry__.ordered_defs enforces (new queries first, stale headline
jumps the queue, recency rotation for the rest).

Exit status: 1 if any query's LATEST driver row is a failure, or any
tier's max staleness exceeds its budget, or (with --strict) if any query
has never been driver-certified. The default mode tolerates QUEUED because
the rotation clears the queue across rounds.

Usage: python tools/certification_ledger.py [--strict]
"""

from __future__ import annotations

import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rippledb_spark.registry import (
    REGISTRY,
    STALENESS_BUDGET,
    _load_query_modules,
    tier,
)


def load_rounds(root: str) -> list[tuple[str, dict]]:
    rounds = []
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if isinstance(rows, dict):
            rounds.append((os.path.basename(path), rows))
    return rounds


def main() -> int:
    strict = "--strict" in sys.argv
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _load_query_modules()
    rounds = load_rounds(root)

    def round_num(rnd_name: str) -> int:
        import re

        m = re.search(r"_r(\d+)\.json$", rnd_name)
        return int(m.group(1)) if m else 0

    cur_round = max((round_num(rnd) for rnd, _ in rounds), default=0)

    status: dict[str, str] = {}
    detail: dict[str, str] = {}
    last_green: dict[str, int] = {}
    for name, qdef in REGISTRY.items():
        outcome, where = "QUEUED", "-"
        for rnd, rows in rounds:  # later rounds override: latest row wins
            row = rows.get(name)
            if not isinstance(row, dict):
                continue
            if row.get("hash_match") is True:
                outcome, where = "GREEN", rnd
                last_green[name] = max(last_green.get(name, 0), round_num(rnd))
            elif row.get("err") == "no_oracle" and row.get("spark_rows") is not None:
                outcome = "ROWS-ONLY" if qdef.oracle is None else "FAILED"
                where = rnd
                if qdef.oracle is None:
                    last_green[name] = max(last_green.get(name, 0), round_num(rnd))
            else:
                outcome, where = "FAILED", rnd
        status[name], detail[name] = outcome, where

    order = ["FAILED", "QUEUED", "ROWS-ONLY", "GREEN"]
    counts = {s: 0 for s in order}
    for name in sorted(status, key=lambda n: (order.index(status[n]), n)):
        counts[status[name]] += 1
        print(f"{status[name]:<9}  {tier(name):<9}  {name:<40}  {detail[name]}")
    total = len(status)
    print(
        f"\n{total} registered: "
        + ", ".join(f"{counts[s]} {s.lower()}" for s in order if counts[s])
    )

    # per-tier staleness vs budget (QUEUED queries have no last-green round
    # and are reported separately — the rotation certifies them next round)
    stale_fail = False
    print(f"\nstaleness vs budget (current round: r{cur_round}):")
    for t in ("headline", "long_tail"):
        members = [n for n in status if tier(n) == t]
        certified = [n for n in members if n in last_green]
        queued = len(members) - len(certified)
        budget = STALENESS_BUDGET[t]
        if certified:
            worst = max(cur_round - last_green[n] for n in certified)
            worst_names = [
                n for n in certified if cur_round - last_green[n] == worst
            ]
            over = worst > budget
            stale_fail |= over
            print(
                f"  {t:<9} {len(members):>3} queries  max staleness"
                f" {worst}/{budget} rounds"
                f" ({'OVER BUDGET: ' if over else ''}e.g. {worst_names[0]})"
                + (f"  [{queued} queued]" if queued else "")
            )
        else:
            print(f"  {t:<9} {len(members):>3} queries  all queued")

    if counts["FAILED"]:
        print("FAIL: queries with a red latest driver row", file=sys.stderr)
        return 1
    if stale_fail:
        print("FAIL: a tier exceeds its staleness budget", file=sys.stderr)
        return 1
    if strict and counts["QUEUED"]:
        print("FAIL (--strict): queries never driver-certified", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
