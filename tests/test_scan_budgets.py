"""Mechanical enforcement of the duplicate-lineage class (VERDICT r9 #3).

Round 9 found three operators replaying corpus-sized lineages for
vocabulary-sized reuse by manually sorting ``plans_golden.json`` by
``scans``. This test closes the loop: every query carries a committed
scan-count budget in ``scan_budgets.json``, which ``plan_audit.py
--write-golden`` deliberately never regenerates. The enforcement chain:

- ``tests/test_plan_golden.py`` pins LIVE plans == committed golden, so
  a code edit that adds a scan can't hide;
- this test pins committed golden ``scans`` == committed budget, so a
  wholesale ``--write-golden`` regeneration can't silently absorb a scan
  increase either — the budget edit has to appear in the diff, where the
  commit message justifies it.

Equality (not <=) is intentional: a decrease is an improvement worth
locking in, so a stale too-high budget also fails until lowered.

``lazy_budgets`` does the same for the golden's ``lazy`` section: the
FlatFrame queries planned with the anchor off, i.e. the plans a frame
above ``engine.pos_auto_threshold`` keeps.
"""
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load():
    with open(os.path.join(REPO, "plans_golden.json")) as f:
        golden = json.load(f)["fingerprints"]
    with open(os.path.join(REPO, "scan_budgets.json")) as f:
        budgets = json.load(f)["budgets"]
    return golden, budgets


def test_every_query_has_a_scan_budget():
    golden, budgets = _load()
    missing = sorted(set(golden) - set(budgets))
    stale = sorted(set(budgets) - set(golden))
    assert not missing, (
        f"queries with no scan budget (add to scan_budgets.json with a "
        f"justifying commit): {missing}"
    )
    assert not stale, f"budgets for queries no longer declared: {stale}"


def test_scan_counts_match_budgets_exactly():
    golden, budgets = _load()
    over = {
        n: (budgets[n], golden[n]["scans"])
        for n in sorted(set(golden) & set(budgets))
        if golden[n]["scans"] > budgets[n]
    }
    under = {
        n: (budgets[n], golden[n]["scans"])
        for n in sorted(set(golden) & set(budgets))
        if golden[n]["scans"] < budgets[n]
    }
    assert not over, (
        "scan-count INCREASE vs committed budget (a corpus-lineage replay "
        "crept back in? justify by editing scan_budgets.json in the same "
        f"commit) {{name: (budget, got)}}: {over}"
    )
    assert not under, (
        "scan count fell below budget — lock the improvement in by "
        f"lowering scan_budgets.json {{name: (budget, got)}}: {under}"
    )


def test_lazy_scan_counts_match_budgets_exactly():
    with open(os.path.join(REPO, "plans_golden.json")) as f:
        lazy = json.load(f)["lazy"]
    with open(os.path.join(REPO, "scan_budgets.json")) as f:
        budgets = json.load(f)["lazy_budgets"]
    assert set(lazy) == set(budgets), (
        "lazy golden queries and lazy_budgets differ: "
        f"unbudgeted {sorted(set(lazy) - set(budgets))}, "
        f"stale {sorted(set(budgets) - set(lazy))}"
    )
    moved = {
        n: (budgets[n], lazy[n]["scans"])
        for n in sorted(lazy)
        if lazy[n]["scans"] != budgets[n]
    }
    assert not moved, (
        "lazy scan count differs from its committed budget (justify a rise, "
        f"lock in a fall) {{name: (budget, got)}}: {moved}"
    )
