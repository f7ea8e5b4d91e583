#!/usr/bin/env python3
"""Shows that every correctness check of the benchmark fails on a
deliberately corrupted output and passes on the correct one.

    python3 perfbench/corrupt_check.py

Needs no Spark: the correct outputs are the closed forms and the DuckDB
results over the catalog fixture, and each corruption is one lost, doubled or
altered row or cell. Exits with code 1 if a check misses a corruption.
"""

import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks, inputs  # noqa: E402
from perfbench.workloads import EXACT_PAIRS_SQL  # noqa: E402

# A few catalog oracles, each with a different kind of output.
ORACLE_ENTRIES = ("q5_local_supplier_volume", "eval_spearman_corr",
                  "sim_cosine_topk")


def _cases():
    """(name, problems of the correct output, problems of each corruption)"""
    n = inputs.E2E_ROWS
    rows = inputs.e2e_rows(n, seed=3)
    sums = [int(s) for s in rows[:, 1:].sum(axis=0)]
    lost, doubled = rows[:-1, 1:], rows[list(range(n)) + [0], 1:]
    yield ("column_totals", checks.column_totals(n, n, sums, "ok"), [
        checks.column_totals(n, n - 1, [int(s) for s in lost.sum(axis=0)],
                             "lost row"),
        checks.column_totals(n, n + 1, [int(s) for s in doubled.sum(axis=0)],
                             "doubled row"),
        checks.column_totals(n, n, [sums[0] + 1] + sums[1:], "altered cell")])

    def means(vals):
        out = []
        for k in range(7):
            s, c = int(vals[:, k].sum()), len(vals)
            out.append((k, (s // c) - (s % c) * 100))
        return out
    yield ("seven_means", checks.seven_means(means(rows[:, 1:]), "ok"), [
        checks.seven_means(means(lost), "lost row"),
        checks.seven_means(means(doubled), "doubled row"),
        checks.seven_means(means(rows[:, 1:])[:6], "lost key")])

    fixture = os.path.join(ROOT, ".perfbench_run", "corrupt_check")
    shutil.rmtree(fixture, ignore_errors=True)
    inputs.write_catalog_fixture(fixture)
    con = inputs.fixture_connection(fixture, threads=2)
    from mapreduce_wsi_spark.plans.registry import load_catalog
    catalog = load_catalog()
    for q in ORACLE_ENTRIES:
        rel = con.sql(catalog[q].oracle)
        cols = list(rel.columns)
        good = [tuple(r[c] for c in cols) for r in rel.arrow().to_pylist()]
        first = list(good[0])
        j = next(i for i, v in enumerate(first) if isinstance(v, float))
        first[j] = first[j] + 1e-9
        ok = checks.same_rows(q, cols, good, cols, good)
        yield (f"same_rows[{q}]", ok, [
            checks.same_rows(q, cols, good[1:], cols, good),
            checks.same_rows(q, cols, good + good[:1], cols, good),
            checks.same_rows(q, cols, [tuple(first)] + good[1:], cols, good)])

    exact = con.sql(EXACT_PAIRS_SQL).fetchall()
    cols = ["doc_a", "doc_b", "jaccard"]
    planted = next(i for i, r in enumerate(exact)
                   if r[2] >= checks.MINHASH_PLANTED_JACCARD)
    a, b, j = exact[0]
    ok = checks.near_dup_pairs("lsh", cols, exact, exact)
    yield ("near_dup_pairs", ok, [
        checks.near_dup_pairs("lsh", cols, exact + [(a, b + 10**6, 0.5)],
                              exact),
        checks.near_dup_pairs("lsh", cols, [(a, b, j / 2)] + exact[1:], exact),
        checks.near_dup_pairs("lsh", cols,
                              exact[:planted] + exact[planted + 1:], exact),
        checks.near_dup_pairs("lsh", cols, exact[: len(exact) * 4 // 5],
                              exact)])
    con.close()
    shutil.rmtree(fixture, ignore_errors=True)


def main() -> int:
    missed = 0
    for name, ok, corrupted in _cases():
        caught = sum(1 for problems in corrupted if problems)
        status = "ok" if not ok and caught == len(corrupted) else "MISSED"
        missed += status != "ok"
        print(f"{status:6} {name}: correct output passes={not ok}, "
              f"corruptions caught={caught}/{len(corrupted)}")
        for problems in corrupted:
            print(f"         {problems[0] if problems else 'NOT CAUGHT'}")
    return 1 if missed else 0


if __name__ == "__main__":
    sys.exit(main())
