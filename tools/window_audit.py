#!/usr/bin/env python3
"""Driver-window coverage audit: one command that prints, per recorded
round, how many catalog entries the driver stamped green, the cumulative
ever-stamped count, and the remaining never-stamped queue — the same set
arithmetic tests/test_driver_window.py asserts, surfaced for humans (and
future verdicts) instead of re-derived by hand each round.

Usage: python3 tools/window_audit.py [--list] [--emit-next]
  --list       also print the never-stamped entry names (the next
               rotation's fresh tier) and any red rows in the newest
               correctness file.
  --emit-next  print a ready-to-paste ROUND constant and DRIVER_WINDOW
               tuple for the NEXT round (newest recorded CORRECTNESS
               file + 1): the 5 sentinels + the queued never-stamped
               entries (oldest-registered first, up to 45) + stamped
               staleness-pad entries to fill any spare slots. Run this
               only AFTER the driver has recorded the current round's
               CORRECTNESS file — rotating earlier would re-point the
               window before the pending entries get stamped.

The plain audit warns when registry.ROUND is behind the newest recorded
CORRECTNESS file: that round was recorded without the rotation, so the
committed window is stale (tests/test_driver_window.py fails on it).
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    from mapreduce_wsi_spark.plans.registry import (
        DRIVER_WINDOW, ROUND, WINDOW_STALENESS_PAD, load_catalog)
    catalog = load_catalog()

    files = sorted(
        (int(m.group(1)), os.path.join(REPO, f))
        for f in os.listdir(REPO)
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", f)))
    stamped: set[str] = set()
    print(f"catalog entries: {len(catalog)}   registry.ROUND = {ROUND}")
    for rnd, path in files:
        with open(path) as fh:
            rows = json.load(fh)
        green = {n for n, r in rows.items()
                 if r.get("rows_match") and r.get("schema_match")
                 and r.get("hash_match", True) and not r.get("err")}
        red = set(rows) - green
        new = green - stamped
        stamped |= green
        flag = f"  RED: {sorted(red)}" if red else ""
        print(f"r{rnd}: {len(green)}/{len(rows)} green "
              f"(+{len(new)} new) cumulative {len(stamped)}{flag}")

    newest = files[-1][0] if files else 0
    if ROUND < newest:
        print(f"WARNING: registry.ROUND = {ROUND} is behind "
              f"CORRECTNESS_r{newest:02d}; paste the --emit-next output "
              f"(ROUND + window) into plans/registry.py")

    never = [n for n in catalog if n not in stamped]
    in_window = [n for n in never if n in DRIVER_WINDOW]
    print(f"never-stamped: {len(never)} "
          f"({len(in_window)} covered by the current window, "
          f"{len(never) - len(in_window)} queued for the next rotation)")
    pad_stale = [n for n in WINDOW_STALENESS_PAD if n not in stamped]
    if pad_stale:
        print(f"WARNING: staleness pad entries never stamped: {pad_stale}")
    if "--list" in sys.argv[1:]:
        for n in never:
            mark = "window" if n in DRIVER_WINDOW else "queued"
            print(f"  {mark}  {n}")

    if "--emit-next" in sys.argv[1:]:
        sentinels = list(DRIVER_WINDOW[:5])
        # never-stamped entries INSIDE the current window stay in the
        # queue: emit-next runs after the round is recorded, so those
        # are exactly the red rows — they must be re-stamped, not
        # dropped (r8 had two; excluding current-window names would
        # have silently parked them)
        queued = [n for n in never][:45]
        # spare slots refill the staleness pad: the entries whose
        # LATEST green stamp is oldest (ties broken by name) get
        # re-verified against drift — evidence age is recency of the
        # last stamp, not of the first (r11: the earlier earliest-round
        # walk would re-pick an entry re-stamped only last round).
        # Only GREEN rows qualify — a red row is not "stamped", and
        # padding it would trip the never-stamped-pad warning next
        # round instead of queueing it fresh (ADVICE r8). This ranking
        # is the same one tests/test_driver_window.py::
        # test_pad_is_exactly_the_oldest_stamps enforces on the
        # committed registry.
        latest: dict[str, int] = {}
        for rnd, path in files:
            with open(path) as fh:
                rows = json.load(fh)
            for n, r in rows.items():
                if (r.get("rows_match") and r.get("schema_match")
                        and r.get("hash_match", True)
                        and not r.get("err")):
                    latest[n] = max(latest.get(n, 0), rnd)
        taken = set(sentinels) | set(queued)
        ranked = sorted((rnd, n) for n, rnd in latest.items()
                        if n in catalog and n not in taken)
        pad = [n for _rnd, n in ranked[:max(0, 45 - len(queued))]]
        print(f"\n# DRIVER_WINDOW for round {newest + 1}: 5 sentinels + "
              f"{len(queued)} queued + {len(pad)} staleness pad")
        print(f"ROUND = {newest + 1}\n")
        print("WINDOW_STALENESS_PAD: tuple[str, ...] = (")
        for n in pad:
            print(f'    "{n}",')
        print(")")
        print("\nDRIVER_WINDOW: tuple[str, ...] = (")
        for n in sentinels + queued:
            print(f'    "{n}",')
        print(") + WINDOW_STALENESS_PAD")


if __name__ == "__main__":
    main()
