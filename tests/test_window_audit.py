"""Regression tests for tools/window_audit.py --emit-next (ADVICE r8 +
the r9 rotation defect): the emitted next-round window must (a) never
use a red row as "stamped staleness pad" — a red row is not a stamp,
and padding it trips the never-stamped-pad warning a round later
instead of queueing it fresh — and (b) re-queue never-stamped entries
even when they sit in the CURRENT window, because after a round is
recorded those are exactly the red rows (r8 had two; the pre-fix logic
silently parked them).

Runs the real script against the real repo state via subprocess, so
the assertions are property-based (green-set membership), not pinned
to any particular round's names.
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _green_and_all() -> tuple[set[str], set[str]]:
    green: set[str] = set()
    seen: set[str] = set()
    for f in REPO.glob("CORRECTNESS_r*.json"):
        rows = json.loads(f.read_text())
        seen |= set(rows)
        green |= {n for n, r in rows.items()
                  if r.get("rows_match") and r.get("schema_match")
                  and r.get("hash_match", True) and not r.get("err")}
    return green, seen


def _run_audit(*args: str) -> str:
    return subprocess.run(
        [sys.executable, str(REPO / "tools" / "window_audit.py"), *args],
        capture_output=True, text=True, check=True, cwd=REPO).stdout


def _emit_next() -> tuple[list[str], list[str]]:
    out = _run_audit("--emit-next")
    pad_m = re.search(
        r"WINDOW_STALENESS_PAD: tuple\[str, \.\.\.\] = \((.*?)\)",
        out, re.S)
    win_m = re.search(
        r"DRIVER_WINDOW: tuple\[str, \.\.\.\] = \((.*?)\)", out, re.S)
    assert pad_m and win_m, out
    names = lambda block: re.findall(r'"([^"]+)"', block)
    return names(win_m.group(1)), names(pad_m.group(1))


def test_emit_next_pad_only_green_stamped_entries():
    """Pad slots re-check OLD stamps; every pad name must be green in
    some recorded round (a red-only name would re-trip the audit)."""
    green, _ = _green_and_all()
    _, pad = _emit_next()
    not_green = [n for n in pad if n not in green]
    assert not not_green, f"red/never-green entries in pad: {not_green}"


def test_emit_next_requeues_red_in_window_entries():
    """Every recorded-but-never-green entry (a red row) must appear in
    the emitted fresh tier — being in the CURRENT window is not an
    excuse to drop it from the queue."""
    from mapreduce_wsi_spark.plans.registry import load_catalog

    green, seen = _green_and_all()
    catalog = load_catalog()
    red = {n for n in (seen - green) if n in catalog}
    window, pad = _emit_next()
    fresh = set(window[5:])  # after the 5 sentinels
    missing = red - fresh - set(pad)
    # reds beyond the 45-slot queue capacity may legitimately wait a
    # round; with the current backlog (<= 45) none should be missing
    never_stamped = {n for n in catalog if n not in green}
    if len(never_stamped) <= 45:
        assert not missing, f"red rows dropped from the queue: {missing}"


def test_emit_next_window_is_exactly_50_and_disjoint():
    window, pad = _emit_next()
    full = window + pad
    assert len(full) == 50
    assert len(set(full)) == 50, "duplicate names in emitted window"


def test_emit_next_round_follows_newest_recorded_file():
    """The emitted window belongs to the round after the newest recorded
    CORRECTNESS file, whatever registry.ROUND says: a stale ROUND must
    not mislabel it, and the ROUND line is emitted with the tuples so
    the constant is pasted in the same step as the window."""
    newest = max(int(re.fullmatch(r"CORRECTNESS_r(\d+)\.json", f.name)
                     .group(1))
                 for f in REPO.glob("CORRECTNESS_r*.json"))
    out = _run_audit("--emit-next")
    assert re.findall(r"^ROUND = (\d+)$", out, re.M) == [str(newest + 1)]
    assert f"DRIVER_WINDOW for round {newest + 1}:" in out
