"""Tracked plan-fingerprint golden diff (VERDICT r6 #2).

Every declared non-streaming query's physical-plan fact counts must match
the committed ``plans_golden.json`` exactly. A mismatch means an edit
changed a query's physical shape — added/removed an Exchange, flipped a
join strategy, moved an Arrow boundary, dropped a cache. If the change is
INTENDED, regenerate deliberately and review the diff in the commit:

    python scripts/plan_audit.py --write-golden
"""
import json

import pytest

from flatbread_spark.plans.golden import (
    GOLDEN_ENV,
    GOLDEN_PATH,
    SKIP,
    STREAM_SINKS,
    collect_fingerprints,
    collect_lazy_fingerprints,
    collect_streaming_fingerprints,
)


def _drift(golden, got, names):
    """``name: {fact: (golden, current)}`` lines for every query in
    ``names`` whose facts moved."""
    diffs = []
    for name in sorted(names):
        if got[name] != golden[name]:
            changed = {
                k: (golden[name].get(k), got[name].get(k))
                for k in set(golden[name]) | set(got[name])
                if golden[name].get(k) != got[name].get(k)
            }
            diffs.append(f"{name}: {changed}")
    return diffs


@pytest.fixture(scope="module")
def payload():
    with open(GOLDEN_PATH) as f:
        payload = json.load(f)
    assert payload["env"] == GOLDEN_ENV, (
        "plans_golden.json was generated under a different environment; "
        "regenerate with scripts/plan_audit.py --write-golden"
    )
    return payload


@pytest.fixture(scope="module")
def golden(payload):
    return payload["fingerprints"]


def test_plan_fingerprints_match_golden(spark, golden):
    # conftest's session IS the golden environment (local[4], 4 shuffle
    # partitions) — assert that before trusting any comparison.
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(
        GOLDEN_ENV["shuffle_partitions"]
    )
    got = collect_fingerprints(spark)

    import __spark_entry__ as e

    declared = {n for n in e.queries() if n not in SKIP}
    missing = declared - set(golden)
    stale = set(golden) - declared
    diffs = _drift(golden, got, declared & set(golden))
    msg = []
    if missing:
        msg.append(f"queries missing from golden (regenerate): {sorted(missing)}")
    if stale:
        msg.append(f"stale golden entries (regenerate): {sorted(stale)}")
    if diffs:
        msg.append("plan-shape drift (golden, current):\n  " + "\n  ".join(diffs))
    assert not msg, "\n".join(msg)


def test_streaming_plan_fingerprints_match_golden(spark, payload):
    """VERDICT r7 #6: the 7 streaming queries' micro-batch physical plans
    (state-store save/restore pairs, watermark nodes, pandas-with-state
    kernels) must match the committed golden — a state-layout regression
    fails here mechanically like the batch plans do."""
    golden = payload.get("streaming")
    assert golden, (
        "plans_golden.json has no streaming section; regenerate with "
        "scripts/plan_audit.py --write-golden"
    )
    assert set(golden) == set(STREAM_SINKS)
    got = collect_streaming_fingerprints(spark)
    diffs = _drift(golden, got, STREAM_SINKS)
    assert not diffs, (
        "streaming plan-shape drift (golden, current):\n  " + "\n  ".join(diffs)
    )


def test_lazy_plan_fingerprints_match_golden(spark, payload):
    """With the FlatFrame anchor off (``engine.pos_auto_threshold`` = 0:
    the margin-chain plans a frame above the threshold keeps), the queries
    recorded in the golden's ``lazy`` section must plan exactly as
    recorded. Anchored, those queries plan as a bare LocalTableScan, so a
    margin op that reads its input once more or adds a nested-loop join
    only shows here."""
    golden = payload.get("lazy")
    assert golden, (
        "plans_golden.json has no lazy section; regenerate with "
        "scripts/plan_audit.py --write-golden"
    )
    assert set(golden) <= set(payload["fingerprints"])
    got = collect_lazy_fingerprints(spark, only=set(golden))
    diffs = _drift(golden, got, golden)
    assert not diffs, (
        "lazy (anchor off) plan-shape drift (golden, current):\n  "
        + "\n  ".join(diffs)
    )
