"""Tests of the benchmark's own code: input generation, the percentile
rule, span self-time arithmetic, the event-log parser, the oracles and
the fixed request count of a run. None starts Spark.

    python3 -m pytest perfbench/tests -q
"""
import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import oracle  # noqa: E402
import tracing as tr  # noqa: E402

EVENT_LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.json")


# ------------------------------------------------------------- generator
def test_margin_request_is_a_function_of_seed_and_index():
    a, b = gen.margin_request(7, 3, rows=5_000), gen.margin_request(7, 3, rows=5_000)
    assert a.table.equals(b.table) and a.ops == b.ops
    assert not gen.margin_request(8, 3, rows=5_000).table.equals(a.table)
    assert not gen.margin_request(7, 4, rows=5_000).table.equals(a.table)


def test_margin_fact_table_has_a_complete_grid():
    m = gen.margin_request(1, 0, rows=5_000)
    df = m.table.to_pandas()
    assert df.groupby(["g0", "g1", "p"]).ngroups == m.g0 * m.g1 * m.piv
    assert df["m"].dtype == np.int64


def test_margin_chains_cycle_with_depth_one_to_four():
    chains = [tuple(op for op, _ in gen.margin_request(1, i, rows=500).ops) for i in range(8)]
    assert [len(c) for c in chains] == [1, 2, 3, 4] * 2
    slots = [s if not s.endswith("percentages") else "percentages" for c in chains for s in c]
    assert sorted(set(slots)) == sorted(["add_subtotals", "add_totals", "add_agg",
                                         "sort_totals", "percentages"])
    assert all(slots.count(s) == 4 for s in set(slots))
    axes = {kw["axis"] for c in gen.MARGIN_CHAINS for op, kw in c if op.endswith("percentages")}
    assert axes == {0, 1, 2}


def test_corpus_is_a_function_of_seed_and_index():
    v = gen.vocabulary(5)
    a, b = gen.corpus(5, 2, n_docs=2_000, vocab=v), gen.corpus(5, 2, n_docs=2_000, vocab=v)
    assert a.texts == b.texts and a.near_pairs == b.near_pairs
    assert gen.corpus(6, 2, n_docs=2_000).texts != a.texts
    e1, e2 = gen.embeddings(5, 2, n=1_000), gen.embeddings(5, 2, n=1_000)
    assert np.array_equal(e1.vecs, e2.vecs) and np.array_equal(e1.queries, e2.queries)
    assert not np.array_equal(gen.embeddings(6, 2, n=1_000).vecs, e1.vecs)
    s1, s2 = gen.stream_changes(5, 2), gen.stream_changes(5, 2)
    assert all(x.equals(y) for x, y in zip(s1, s2))
    assert not gen.stream_changes(6, 2)[0].equals(s1[0])


def test_planted_duplicate_counts():
    n = 4_000
    c = gen.corpus(3, 1, n_docs=n)
    assert len(c.exact_pairs) == int(n * 0.05) and len(c.near_pairs) == int(n * 0.05)
    text = dict(zip(c.ids.tolist(), c.texts))
    assert all(text[a] == text[b] for a, b in c.exact_pairs)
    # every exact copy is the only extra copy of its text
    assert n - len(set(c.texts)) == len(c.exact_pairs)
    for a, b in c.near_pairs:
        assert text[a] != text[b]
        assert oracle.jaccard(text[a], text[b]) >= 0.5
    e = gen.embeddings(3, 1, n=2_000)
    assert len(e.planted_pairs) == int(2_000 * 0.03)
    cos = [oracle.cosines(e.vecs[[a]], e.vecs[[b]])[0, 0] for a, b in e.planted_pairs]
    assert min(cos) >= 0.95


def test_stream_docs_repeat_content():
    files = gen.stream_docs(2, 0)
    texts = [t for f in files for t in f.column("text").to_pylist()]
    assert len(files) == gen.STREAM_BATCHES
    assert len(texts) - len(set(texts)) == int(len(texts) * 0.15)


# ------------------------------------------------------- percentile rule
def test_tail_keeps_ten_samples_beyond():
    assert tr.tail(list(range(10))) is None
    value, pct = tr.tail(list(range(11)))
    assert value == 0 and pct == pytest.approx(100 / 11)
    vals = list(range(100))[::-1]
    value, pct = tr.tail(vals)
    assert value == 89 and pct == 90.0
    assert sum(v > value for v in vals) == 10


def test_median():
    assert tr.median([3, 1, 2]) == 2
    assert tr.median([4, 1, 2, 3]) == 2.5
    assert tr.median([]) == 0.0


# ------------------------------------------------------- span self time
def _span(i, name, start, end, parent, request=0):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent,
            "request": request}


def test_self_time_subtracts_covered_child_time():
    spans = [
        _span(0, "request", 0.0, 10.0, None),
        _span(1, "sources.pivot", 1.0, 4.0, 0),
        _span(2, "operators.add_totals", 3.0, 6.0, 0),  # overlaps its sibling
        _span(3, "frame.collect", 7.0, 9.0, 0),
        _span(4, "inner", 7.5, 8.0, 3),
    ]
    st = tr.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[3] == pytest.approx(1.5)
    assert st[4] == pytest.approx(0.5)


def test_self_times_sum_to_request_wall_for_nested_spans():
    spans = [
        _span(0, "request", 0.0, 10.0, None),
        _span(1, "a", 1.0, 4.0, 0),
        _span(2, "b", 5.0, 9.0, 0),
        _span(3, "c", 5.5, 6.0, 2),
    ]
    assert sum(tr.self_times(spans).values()) == pytest.approx(10.0)


def test_union_length_clips_and_merges():
    assert tr.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert tr.union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == pytest.approx(2.0)
    assert tr.union_length([]) == 0


def test_tracer_disabled_records_nothing():
    t = tr.Tracer(False)
    with t.span("request"):
        pass
    assert t.spans == []
    t = tr.Tracer(True)
    t.request = 3
    with t.span("request"):
        with t.span("frame.collect"):
            pass
    root, child = t.dump()
    assert child["parent"] == root["id"] and child["request"] == 3
    assert root["start"] <= child["start"] <= child["end"] <= root["end"]


# ----------------------------------------------------- event-log parser
def test_parse_recorded_event_log():
    with open(EVENT_LOG) as f:
        jobs, stages, ran = tr.parse_event_log(f)
    assert sorted(jobs) == [0, 1, 2, 3]
    assert all(j.ok for j in jobs.values())
    # job 1 re-used job 0's shuffle: its map stage was skipped
    assert jobs[1].stages == [1, 2] and 1 not in ran
    assert ran == {0, 2, 3, 5}
    assert [jobs[i].props["perfbench.span"] for i in range(4)] == [
        "sources.pivot", "sources.pivot", "frame.collect", "frame.collect"]
    assert sum(s.tasks for s in stages.values()) == 6
    assert stages[0].run_ms == 411 and stages[0].shuffle_write_bytes == 302


def test_request_job_stats_on_recorded_log():
    with open(EVENT_LOG) as f:
        jobs, stages, ran = tr.parse_event_log(f)
    js = list(jobs.values())
    start = min(j.submit_ms for j in js) / 1e3 - 1.0
    end = max(j.end_ms for j in js) / 1e3 + 1.0
    stats = tr.request_job_stats(js, stages, ran, start, end)
    assert stats["spark.jobs"] == 4 and stats["spark.stages"] == 4
    assert stats["spark.tasks"] == 6
    assert stats["spark.executor_run_s"] == pytest.approx((411 + 112 + 66 + 20) / 1e3)
    covered = sum(j.end_ms - j.submit_ms for j in js) / 1e3  # the jobs do not overlap
    assert stats["spark.driver_gap_s"] == pytest.approx(end - start - covered)


# ------------------------------------------------------------ oracles
def _fact():
    rows = [("A", "x", "p1", 1), ("A", "x", "p2", 2), ("A", "y", "p1", 3), ("A", "y", "p2", 4),
            ("B", "x", "p1", 5), ("B", "x", "p2", 6), ("B", "y", "p1", 7), ("B", "y", "p2", 8)]
    return pd.DataFrame(rows, columns=["g0", "g1", "p", "m"])


def test_margin_oracle_totals_and_subtotals():
    cols, rows = oracle.margin_expected(_fact(), [("add_subtotals", {}), ("add_totals", {"axis": 2})])
    assert cols == ["g0", "g1", "p1", "p2", "Totals"]
    assert rows == [
        ("A", "x", 1, 2, 3), ("A", "y", 3, 4, 7), ("A", "Subtotals", 4, 6, 10),
        ("B", "x", 5, 6, 11), ("B", "y", 7, 8, 15), ("B", "Subtotals", 12, 14, 26),
        ("Totals", "", 16, 20, 36),
    ]


def test_margin_oracle_agg_sort_and_percentages():
    ops = [("add_totals", {"axis": 0}), ("add_agg", {"aggfunc": "max"}),
           ("sort_totals", {}), ("add_percentages", {"axis": 0})]
    cols, rows = oracle.margin_expected(_fact(), ops)
    assert cols == ["g0", "g1", "n_p1", "n_p2", "pct_p1", "pct_p2"]
    # max includes the Totals row; sort_totals moves Totals after it
    assert [r[:4] for r in rows[-2:]] == [("max", "", 16, 20), ("Totals", "", 16, 20)]
    assert rows[0][4:] == (1 / 16, 2 / 20)


def test_round_half_up_matches_spark_on_ties():
    assert oracle.round_half_up(0.0078125) == 0.007813
    assert oracle.round_half_up(0.5078125) == 0.507813
    assert oracle.round_half_up(1 / 3) == 0.333333


def _minhash_got(texts_by_id, pairs):
    return [(a, b, oracle.jaccard(texts_by_id[a], texts_by_id[b])) for a, b in pairs]


def test_minhash_check_requires_every_planted_exact_pair():
    c = gen.corpus(4, 0, n_docs=400)
    by_id = dict(zip(c.ids.tolist(), c.texts))
    pairs = sorted(c.exact_pairs + c.near_pairs)
    assert oracle.check_minhash(by_id, _minhash_got(by_id, pairs), 0.5,
                                c.exact_pairs, c.near_pairs, 0.9) == []
    # an empty answer, or one missing an exact pair, fails
    assert oracle.check_minhash(by_id, [], 0.5, c.exact_pairs, c.near_pairs, 0.9)
    some = [p for p in pairs if p != c.exact_pairs[0]]
    errs = oracle.check_minhash(by_id, _minhash_got(by_id, some), 0.5,
                                c.exact_pairs, c.near_pairs, 0.9)
    assert any("exact" in e for e in errs)
    # dropping near pairs below the floor fails, above it passes
    keep = len(c.near_pairs) * 19 // 20
    fewer = sorted(c.exact_pairs + c.near_pairs[:keep])
    assert oracle.check_minhash(by_id, _minhash_got(by_id, fewer), 0.5,
                                c.exact_pairs, c.near_pairs, 0.9) == []
    assert oracle.check_minhash(by_id, _minhash_got(by_id, fewer), 0.5,
                                c.exact_pairs, c.near_pairs, 0.99)


def test_embedding_check_has_a_recall_floor():
    e = gen.embeddings(4, 0, n=1_000)
    cos = oracle.cosines(e.vecs, e.vecs)
    got = [(a, b, oracle.round_half_up(cos[a, b])) for a, b in sorted(e.planted_pairs)]
    assert oracle.check_embedding_dups(e.ids, e.vecs, got, 0.95, e.planted_pairs, 0.98) == []
    assert oracle.check_embedding_dups(e.ids, e.vecs, [], 0.95, e.planted_pairs, 0.98)
    assert oracle.check_embedding_dups(e.ids, e.vecs, got[: len(got) // 2], 0.95,
                                       e.planted_pairs, 0.98)


def test_quality_score():
    # no stopwords, no punctuation, mean length 4: 0 * 0.4 + 0.3 + 0.3
    assert oracle.quality("abcd efgh") == 0.6
    # one stopword in four tokens saturates the stopword term
    assert oracle.quality("the abcd efgh ijkl") == 1.0
    # punctuation and overlong tokens lower the score
    assert oracle.quality("abcdefghijklmnop, qrstuvwxyzabcdef") < 0.5


def test_funnel_check_recounts_every_stage():
    from workloads import MIN_QUALITY, MIN_WORDS, check_funnel

    c = gen.corpus(4, 0, n_docs=400)
    long_enough = [t for t in c.texts if len(t.split(" ")) >= MIN_WORDS]
    distinct = set(long_enough)
    low = sum(oracle.quality(t) < MIN_QUALITY for t in distinct)
    counts = [("too_short", len(c.texts), len(c.texts) - len(long_enough)),
              ("dedup", len(long_enough), len(long_enough) - len(distinct)),
              ("low_quality", len(distinct), low)]
    stages = [{"stage_idx": i, "stage": s, "n_in": n, "n_removed": r, "n_out": n - r}
              for i, (s, n, r) in enumerate(counts)]
    table = sorted((s, r) for s, _, r in counts) + [("Totals", sum(r for *_, r in counts))]
    assert check_funnel(c.texts, stages, table) == []
    stages[2] = dict(stages[2], n_removed=low + 1, n_out=len(distinct) - low - 1)
    assert check_funnel(c.texts, stages, table)


def test_runs_are_whole_cycles_of_the_request_schedule():
    from workloads import WORKLOADS, CorpusCuration, MarginTables

    assert MarginTables.requests % len(gen.MARGIN_CHAINS) == 0
    assert CorpusCuration.requests % len(CorpusCuration.kinds) == 0
    assert all(w.requests > 0 for w in WORKLOADS.values())
