"""Correctness checks, made apart from the engine.

Every check takes plain Python data (read back through plain JDBC, pyarrow,
files or DuckDB) and returns a list of problems; an empty list passes. They
compare against closed forms, DuckDB, or properties the method must have,
never against a stored copy of an earlier output.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math

SEVEN_MEANS = [(i, 3) for i in range(7)]
# dedup_minhash_lsh: share of the exact Jaccard >= 0.1 pair set it must find.
MINHASH_MIN_RECALL = 0.9
# ... and of the planted near-duplicates (exact Jaccard >= 0.8), where a
# 16-band x 4-row LSH collides with p ~ 0.9998.
MINHASH_PLANTED_JACCARD = 0.8


def column_totals(n: int, count: int, sums: list[int], what: str) -> list[str]:
    """``count`` rows whose seven column sums are each ``3 n``."""
    problems = []
    if count != n:
        problems.append(f"{what}: {count} rows, expected {n}")
    if list(sums) != [3 * n] * 7:
        problems.append(f"{what}: column sums {list(sums)}, expected "
                        f"{3 * n} each")
    return problems


def seven_means(rows, what: str) -> list[str]:
    """Exactly the rows ``(i, 3)`` for ``i`` in 0..6. The integer-mean
    tripwire turns any lost or doubled row into a value other than 3."""
    got = sorted((int(a), int(b)) for a, b in rows)
    if got != SEVEN_MEANS:
        return [f"{what}: got {got}, expected {SEVEN_MEANS}"]
    return []


def _canon(v):
    """One cell, tagged by kind, so that e.g. an int never equals a Decimal."""
    if v is None:
        return ("null", "")
    if isinstance(v, bool):
        return ("bool", str(v))
    if isinstance(v, float):
        return ("float", "nan" if math.isnan(v) else repr(v))
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, int):
        return ("int", str(v))
    if isinstance(v, (dt.datetime, dt.date)):
        return (type(v).__name__, v.isoformat())
    if isinstance(v, (bytes, bytearray)):
        return ("bytes", bytes(v).hex())
    return ("str", str(v))


def _canon_rows(columns: list[str], rows) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def same_rows(name: str, s_cols: list[str], s_rows, d_cols: list[str],
              d_rows) -> list[str]:
    """The engine's rows equal DuckDB's as an unordered multiset, with
    columns matched by name."""
    if sorted(s_cols) != sorted(d_cols):
        return [f"{name}: columns {sorted(s_cols)} vs oracle {sorted(d_cols)}"]
    if len(s_rows) != len(d_rows):
        return [f"{name}: {len(s_rows)} rows vs oracle {len(d_rows)}"]
    s, d = _canon_rows(s_cols, s_rows), _canon_rows(d_cols, d_rows)
    if s != d:
        diff = next((a, b) for a, b in zip(s, d) if a != b)
        return [f"{name}: first differing row {diff[0]} vs oracle {diff[1]}"]
    return []


def near_dup_pairs(name: str, s_cols: list[str], s_rows, exact_rows
                   ) -> list[str]:
    """LSH output ``(doc_a, doc_b, jaccard)`` against the exact pair set
    ``exact_rows``: every returned pair is an exact pair with the same
    Jaccard, every planted near-duplicate is found, and recall stays at or
    above ``MINHASH_MIN_RECALL``."""
    idx = [s_cols.index(c) for c in ("doc_a", "doc_b", "jaccard")]
    found = {(r[idx[0]], r[idx[1]]): r[idx[2]] for r in s_rows}
    exact = {(a, b): j for a, b, j in exact_rows}
    problems = []
    if len(found) != len(s_rows):
        problems.append(f"{name}: duplicate pairs in the output")
    wrong = [(p, j) for p, j in found.items() if exact.get(p) != j]
    if wrong:
        problems.append(f"{name}: {len(wrong)} returned pairs are not exact "
                        f"pairs with that Jaccard, e.g. {wrong[0]}")
    planted = [p for p, j in exact.items() if j >= MINHASH_PLANTED_JACCARD]
    missed = [p for p in planted if p not in found]
    if missed:
        problems.append(f"{name}: {len(missed)} of {len(planted)} planted "
                        f"near-duplicates missed, e.g. {missed[0]}")
    recall = len(set(found) & set(exact)) / max(len(exact), 1)
    if recall < MINHASH_MIN_RECALL:
        problems.append(f"{name}: recall {recall:.3f} < {MINHASH_MIN_RECALL}")
    return problems
