"""Tests of the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench -q
"""

import json

import pytest

from perfbench import gen
from perfbench.agg import interval_union, median, percentile, tail_percentile
from perfbench.spans import Span, Tracer
from perfbench.workloads import rankings_match


def test_corpus_is_deterministic_per_seed():
    a = gen.zipf_corpus(7, 50)
    assert a == gen.zipf_corpus(7, 50)
    assert a != gen.zipf_corpus(8, 50)
    assert len(a) == 50
    for doc in a:
        toks = doc.split()
        assert gen.LEN_LO <= len(toks) <= gen.LEN_HI
        assert all(t[0] == "t" and 1 <= int(t[1:]) <= gen.VOCAB for t in toks)


def test_corpus_is_zipf_shaped():
    toks = " ".join(gen.zipf_corpus(1, 300)).split()
    counts = {t: toks.count(t) for t in ("t1", "t2", "t10")}
    # P(r) ∝ 1/r: rank 1 about twice rank 2 and ten times rank 10
    assert 1.5 < counts["t1"] / counts["t2"] < 2.7
    assert 6 < counts["t1"] / counts["t10"] < 16


def test_query_files_are_deterministic_per_seed():
    a = gen.query_files(3, n_bm25=8, n_indri=6, n_daat=5, n_struct=2)
    assert a == gen.query_files(3, n_bm25=8, n_indri=6, n_daat=5, n_struct=2)
    assert a != gen.query_files(4, n_bm25=8, n_indri=6, n_daat=5, n_struct=2)
    assert [len(a[f]) for f in ("bm25", "indri", "daat", "struct")] == [8, 6, 5, 2]
    assert all("#" not in q for q in a["daat"].values())
    assert a["struct"]["s0"].startswith("#sum( #near/3(")
    assert "#" not in a["struct"]["s1"]   # the bag-of-words store query


def test_interactive_stream_is_deterministic_and_repeats_its_share():
    a, b = gen.InteractiveStream(5), gen.InteractiveStream(5)
    passes = [a.next_pass() for _ in range(4)]
    assert passes == [b.next_pass() for _ in range(4)]
    n = len(gen.INTERACTIVE_TEMPLATES)
    models = [m for m, _ in gen.INTERACTIVE_TEMPLATES]
    seen: set = set()
    for i, p in enumerate(passes):
        assert [m for m, _ in p] == models
        repeats = sum(q in seen for _, q in p)
        if i == 0:
            assert repeats == 0
        else:   # a fresh draw may coincide with an earlier query
            assert repeats >= round(gen.REPEAT_SHARE * n)
        seen.update(q for _, q in p)
    assert passes != [gen.InteractiveStream(6).next_pass() for _ in range(4)]


def test_percentile_is_nearest_rank():
    xs = list(range(1, 11))
    assert percentile(xs, 50) == 5
    assert percentile(xs, 90) == 9
    assert percentile(xs, 100) == 10
    assert percentile(xs, 1) == 1
    with pytest.raises(ValueError):
        percentile([], 50)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(list(range(19))) is None
    assert tail_percentile(list(range(1, 21))) == (50, 10)
    assert tail_percentile(list(range(1, 101))) == (90, 90)
    assert tail_percentile(list(range(1, 1001)))[0] == 99


def test_median():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 2, 3]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_interval_union():
    assert interval_union([]) == 0
    assert interval_union([(0, 1), (2, 3)]) == 2
    assert interval_union([(0, 2), (1, 3)]) == 3
    assert interval_union([(0, 10), (2, 3), (4, 5)]) == 10
    assert interval_union([(5, 6), (0, 1), (0.5, 2)]) == 3


def test_rankings_match():
    a = [(1, 3.0), (2, 2.0), (3, 1.0)]
    assert rankings_match(a, list(a))
    assert not rankings_match(a, a[:2])
    assert not rankings_match(a, [(1, 3.0), (3, 2.0), (2, 1.0)])
    assert not rankings_match(a, [(1, 3.0), (2, 2.0 + 1e-6), (3, 1.0)])
    # a near-tie within the tolerance may swap places
    t = [(1, 3.0), (2, 2.0), (3, 2.0 + 1e-12)]
    assert rankings_match(t, [(1, 3.0), (3, 2.0 + 1e-12), (2, 2.0)])


def test_event_log_folds_into_spans_by_job_group(tmp_path):
    tr = Tracer(sc=None)
    tr.spans = [Span("a", "g1", 100.0, 104.0), Span("b", "g2", 104.0, 105.0)]
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 100500, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "g1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 101000, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "g1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2,
         "Submission Time": 104000, "Stage IDs": [3],
         "Properties": {"spark.jobGroup.id": "other"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 1500, "Memory Bytes Spilled": 7,
            "Shuffle Read Metrics": {"Remote Bytes Read": 1,
                                     "Local Bytes Read": 2},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 5}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3,
         "Task Metrics": {"Executor Run Time": 9000}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 102000},
        {"Event": "SparkListenerJobEnd", "Job ID": 1,
         "Completion Time": 102500},
        {"Event": "SparkListenerJobEnd", "Job ID": 2,
         "Completion Time": 105000},
    ]
    (tmp_path / "local-1").write_text(
        "".join(json.dumps(e) + "\n" for e in events))
    tr.add_event_log(str(tmp_path))
    g1, g2 = tr.spans
    assert g1.job_s == pytest.approx(2.0)       # [100.5, 102.5]
    assert g1.executor_run_s == pytest.approx(1.5)
    assert (g1.shuffle_read_bytes, g1.shuffle_write_bytes,
            g1.spill_bytes) == (3, 5, 7)
    assert g2.job_s == 0 and g2.executor_run_s == 0
    tot = tr.totals()
    assert tot["driver_self_s"] == pytest.approx((4 - 2) + 1)
