"""Segment codec round-trip, manifest resume, and block-max DAAT
rank-identity vs the set-at-a-time Engine (SURVEY.md §7.1 items 3+5)."""

import json
from collections import Counter

import numpy as np
import pytest

from search_engines_spark.engine import Engine
from search_engines_spark.engine.daat import bm25_wand_topk_many, rank_topk
from search_engines_spark.indexer.codec import varbyte_decode
from search_engines_spark.indexer.segments import (
    build_segments, read_manifest, read_segments)

NUM_BUCKETS = 8
# the tombstone mask is a plain file read (no distinct, so no shuffle
# stage of its own)
STEADY_DAAT_JOBS = 4


@pytest.fixture(scope="module")
def seg_dir(spark, spark_index, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("segments"))
    metrics = build_segments(spark_index.postings, spark_index.doclens, d,
                             num_buckets=NUM_BUCKETS, chunk=3)
    assert metrics["buckets_built"] == NUM_BUCKETS
    return d


def _decode_blocks(rows):
    """blocks of one (term, field) → {doc_id: (tf, positions)}"""
    out = {}
    for r in sorted(rows, key=lambda r: r["min_docid"]):
        ids = np.cumsum(varbyte_decode(bytes(r["docids_vb"])))
        tfs = varbyte_decode(bytes(r["tfs_vb"]))
        pdel = varbyte_decode(bytes(r["positions_vb"]))
        off = 0
        for d, tf in zip(ids, tfs):
            dp = pdel[off:off + tf]
            out[int(d)] = (int(tf), list(np.cumsum(dp)))
            off += tf
    return out


def test_segments_roundtrip(spark, spark_index, seg_dir):
    """Decoded segments == source postings exactly (docids, tf, positions)."""
    want = {}
    for r in spark_index.postings.collect():
        want.setdefault((r["term"], r["field"]), {})[r["doc_id"]] = (
            r["tf"], list(r["positions"]))
    got_rows = {}
    for r in read_segments(spark, seg_dir, num_buckets=NUM_BUCKETS).collect():
        got_rows.setdefault((r["term"], r["field"]), []).append(r.asDict())
    assert set(got_rows) == set(want)
    for key, rows in got_rows.items():
        assert _decode_blocks(rows) == want[key], key


def test_segments_term_pruned_read(spark, spark_index, seg_dir):
    rows = read_segments(spark, seg_dir, terms=["creek", "farm"],
                         num_buckets=NUM_BUCKETS).collect()
    assert {r["term"] for r in rows} == {"creek", "farm"}


def test_manifest_resume(spark, spark_index, seg_dir):
    """Re-run skips everything; a truncated manifest rebuilds only the
    missing buckets (per-partition checkpoint resume, north rule)."""
    m1 = build_segments(spark_index.postings, spark_index.doclens, seg_dir,
                        num_buckets=NUM_BUCKETS)
    assert m1["buckets_built"] == 0
    assert m1["buckets_skipped"] == NUM_BUCKETS
    # drop two buckets from the manifest → simulate interruption
    entries = read_manifest(seg_dir)
    keep = [e for e in entries if e["bucket"] not in (0, 1)]
    with open(f"{seg_dir}/_manifest.jsonl", "w") as f:
        for e in keep:
            f.write(json.dumps(e) + "\n")
    m2 = build_segments(spark_index.postings, spark_index.doclens, seg_dir,
                        num_buckets=NUM_BUCKETS)
    assert m2["buckets_built"] == 2
    assert m2["buckets_skipped"] == NUM_BUCKETS - 2


def test_manifest_counters(seg_dir, spark_index):
    total_postings = sum(e["postings"] for e in read_manifest(seg_dir))
    assert total_postings == spark_index.postings.count()


@pytest.mark.parametrize("q", [
    "fickle creek farm",
    "buffer overflow guard",
    "parser lexer token stream",
])
def test_daat_wand_rank_identity(spark, spark_index, seg_dir, q):
    """Block-max DAAT top-k == Engine BM25 top-k (exact, incl. scores)."""
    eng = Engine(spark_index, "bm25")
    terms = [n.term for n in _terms_of(eng.parse(q))]
    stats = {r["term"]: (r["df"], r["ctf"])
             for r in spark_index.term_stats
             .where(spark_index.term_stats.term.isin(terms)).collect()}
    st = spark_index.stats_for("body")
    segs = read_segments(spark, seg_dir, terms=terms, num_buckets=NUM_BUCKETS)
    got = _ranked(rank_topk(bm25_wand_topk_many(
        segs, {"q": dict.fromkeys(terms, 1)}, stats, st["n_docs"],
        st["sum_len"] / st["doc_count"], k=30), 30))["q"]
    _assert_matches_eval_sop(eng, q, got, 30)


def test_engine_search_daat_api(spark, spark_index, seg_dir):
    """Engine.attach_segments + a one-query search_daat_many end-to-end;
    rank-identical to the compiled plan under the doc_id tie-break."""
    eng = Engine(spark_index, "bm25")
    eng.attach_segments(seg_dir, num_buckets=NUM_BUCKETS)
    got = _ranked(eng.search_daat_many({"q": "fickle creek farm"}, k=20))
    _assert_matches_eval_sop(eng, "fickle creek farm", got["q"], 20)
    with pytest.raises(ValueError):
        eng.search_daat_many({"q": "#near/2( creek farm )"})


def test_search_daat_repeated_term(spark, spark_index, seg_dir):
    """A term repeated in the bag contributes once per occurrence
    (`QrySopSum.java:39-53`) — DAAT folds multiplicity into idf."""
    eng = Engine(spark_index, "bm25")
    eng.attach_segments(seg_dir, num_buckets=NUM_BUCKETS)
    got = _ranked(eng.search_daat_many({"q": "creek creek farm"}, k=15))
    _assert_matches_eval_sop(eng, "creek creek farm", got["q"], 15)


def test_block_max_pruning_fires_and_stays_exact(spark, spark_index,
                                                 seg_dir):
    """With a small stride the corpus spans many pruning units; the skip
    counter must show strides skipped WITHOUT decoding, and the result
    must still be exactly the unpruned top-k (pruning is lossless)."""
    eng = Engine(spark_index, "bm25")
    terms = ["creek", "farm", "buffer"]
    stats = {r["term"]: (r["df"], r["ctf"])
             for r in spark_index.term_stats
             .where(spark_index.term_stats.term.isin(terms)).collect()}
    st = spark_index.stats_for("body")
    segs = read_segments(spark, seg_dir, terms=terms,
                         num_buckets=NUM_BUCKETS)
    acc = spark.sparkContext.accumulator(0)
    got = _ranked(rank_topk(bm25_wand_topk_many(
        segs, {"q": dict.fromkeys(terms, 1)}, stats, st["n_docs"],
        st["sum_len"] / st["doc_count"], k=3, stride=8,
        prune_counter=acc), 3))["q"]
    assert acc.value > 0, "no stride was ever skipped — pruning dead"
    _assert_matches_eval_sop(eng, "creek farm buffer", got, 3)


def test_search_daat_many_batch_identity(spark, spark_index, seg_dir):
    """Batched DAAT (one segments pass for the whole query file) is
    rank/score-identical per query to the compiled plan under the doc_id
    tie-break, incl. a repeated-term query and an OOV-only query (which
    simply yields no rows — the runner's dummy-line contract covers
    absent qids)."""
    eng = Engine(spark_index, "bm25")
    eng.attach_segments(seg_dir, num_buckets=NUM_BUCKETS)
    queries = {"q1": "fickle creek farm",
               "q2": "buffer overflow guard",
               "q3": "creek creek farm",
               "q4": "zzzunknownterm"}
    by_q = _ranked(eng.search_daat_many(queries, k=20))
    assert "q4" not in by_q
    for qid in ("q1", "q2", "q3"):
        _assert_matches_eval_sop(eng, queries[qid], by_q[qid], 20)
    with pytest.raises(ValueError):
        eng.search_daat_many({"q1": "#near/2( creek farm )"})


def test_prune_counter_batch_stays_exact(spark, spark_index, seg_dir):
    """The one kernel counts strides that no query of the batch needs;
    with a small stride a two-query batch must skip some without
    decoding, and each query's top-k must still equal the compiled
    plan's under the doc_id tie-break."""
    eng = Engine(spark_index, "bm25")
    queries = {"a": "creek farm buffer", "b": "fickle fickle overflow"}
    bags = {qid: dict(Counter(n.term for n in _terms_of(eng.parse(q))))
            for qid, q in queries.items()}
    terms = sorted({t for bag in bags.values() for t in bag})
    ts = spark_index.term_stats
    stats = {r["term"]: (r["df"], r["ctf"])
             for r in ts.where(ts.term.isin(terms)).collect()}
    st = spark_index.stats_for("body")
    segs = read_segments(spark, seg_dir, terms=terms,
                         num_buckets=NUM_BUCKETS)
    acc = spark.sparkContext.accumulator(0)
    got = _ranked(rank_topk(bm25_wand_topk_many(
        segs, bags, stats, st["n_docs"], st["sum_len"] / st["doc_count"],
        k=3, stride=8, prune_counter=acc), 3))
    assert acc.value > 0, "no stride was ever skipped — pruning dead"
    for qid, q in queries.items():
        _assert_matches_eval_sop(eng, q, got[qid], 3)


def test_search_daat_steady_job_count(spark, spark_index, tmp_path_factory,
                                      jobs_submitted):
    """A steady one-query `search_daat_many` call over a one-group store
    with one tombstone submits a pinned number of Spark jobs: the
    kernel's single partition satisfies the per-qid rank window, so a
    query ranked by the window costs no job more than a sort + limit."""
    from pyspark.sql import functions as F
    from search_engines_spark.indexer.merge import delete_docs
    d = str(tmp_path_factory.mktemp("segs_jobs"))
    build_segments(spark_index.postings, spark_index.doclens, d,
                   num_buckets=NUM_BUCKETS)
    delete_docs(spark, d, spark_index.docs.where(F.col("doc_id") == 3)
                .select("doc_id"))
    eng = Engine(spark_index, "bm25")
    eng.attach_segments(d, num_buckets=NUM_BUCKETS)
    q = {"q": "fickle creek farm"}
    want = eng.search_daat_many(q, k=10).collect()  # warm: stats prefetch
    got, jobs = jobs_submitted(
        "daat_steady", lambda: eng.search_daat_many(q, k=10).collect())
    assert got == want and 3 not in [r["doc_id"] for r in got]
    assert len(jobs) == STEADY_DAAT_JOBS


@pytest.mark.parametrize("model,q", [
    ("unrankedboolean", "#near/2( fickle creek )"),
    ("rankedboolean", "#and( #window/3( creek farm ) buffer )"),
    ("bm25", "#sum( #near/2( fickle creek ) #syn( farm creek ) overflow )"),
    ("indri", "#wand( 0.6 #near/2( creek farm ) 0.4 buffer )"),
])
def test_search_segments_full_language(spark, spark_index, seg_dir, model, q):
    """The full structured language runs off the compressed store
    (decode_to_postings) with results identical to the uncompressed
    plan — the segment store is a complete index substitute, not just
    the bow fast path."""
    eng = Engine(spark_index, model)
    eng.attach_segments(seg_dir, num_buckets=NUM_BUCKETS)
    got = _ranked(eng.search_segments_many({"q": q}, k=25)).get("q", [])
    want = eng.search(q, k=25).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    for g, w in zip(got, want):
        assert g["score"] == pytest.approx(w["score"], abs=1e-9)


def test_search_segments_many_batch(spark, spark_index, seg_dir):
    """Batched full-language retrieval off the compressed store: ONE
    bucket-pruned decode for the union of all queries' terms, then the
    search_many one-plan paths — per-qid results identical to per-query
    `search` over the uncompressed index (bow fast path, structured
    arms, and per-query fallback shapes all in one batch)."""
    queries = {
        "b1": "fickle creek farm",
        "b2": "#sum( #near/2( fickle creek ) farm )",
        "b3": "buffer overflow guard",
    }
    eng = Engine(spark_index, "bm25")
    eng.attach_segments(seg_dir, num_buckets=NUM_BUCKETS)
    rows = eng.search_segments_many(queries, k=15).collect()
    by_qid = {}
    for r in rows:
        by_qid.setdefault(r["qid"], []).append(r)
    for qid, q in queries.items():
        got = sorted(by_qid.get(qid, []), key=lambda r: r["rank"])
        want = eng.search(q, k=15).collect()
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want], qid
        for g, w in zip(got, want):
            assert g["score"] == pytest.approx(w["score"], abs=1e-9)


def test_segments_sub_engine_fetches_no_stats(spark_index, seg_dir,
                                             monkeypatch):
    """The decoded sub-engine shares the caller's leaf statistics: only
    the caller fetches term statistics, once per call, and a repeated
    call fetches none."""
    fetched = []   # (fetching engine is the caller, leaves fetched)
    real = Engine._prefetch_stats

    def spy(self, *args):
        before = len(self._leaf_stats)
        real(self, *args)
        if len(self._leaf_stats) > before:
            fetched.append((self is eng, len(self._leaf_stats) - before))
    monkeypatch.setattr(Engine, "_prefetch_stats", spy)
    eng = Engine(spark_index, "bm25")
    eng.attach_segments(seg_dir, num_buckets=NUM_BUCKETS)
    queries = {"s1": "#sum( #near/2( fickle creek ) farm )",
               "s2": "buffer overflow guard",
               "s3": "#sum( #syn( voyager probe ) creek )"}
    eng.search_segments_many(queries, k=5).collect()
    assert [who for who, _ in fetched] == [True]
    eng.search_segments_many(queries, k=5).collect()
    eng.search_segments_many({"s4": "#sum( #window/4( stage token ) index )"},
                             k=5).collect()
    assert [who for who, _ in fetched] == [True, True]
    eng.close()


def test_search_segments_many_masks_deletes(spark, spark_index,
                                            tmp_path_factory):
    """Deletions mask batched results too, with no top-k deficit (the
    batch fetches k + |tombstones| before masking)."""
    from pyspark.sql import functions as F
    from search_engines_spark.indexer.merge import delete_docs
    d = str(tmp_path_factory.mktemp("segs_del_batch"))
    build_segments(spark_index.postings, spark_index.doclens, d,
                   num_buckets=NUM_BUCKETS)
    eng = Engine(spark_index, "bm25")
    eng.attach_segments(d, num_buckets=NUM_BUCKETS)
    queries = {"q1": "fickle creek farm"}
    before = sorted(eng.search_segments_many(queries, k=5).collect(),
                    key=lambda r: r["rank"])
    assert len(before) == 5
    victim = before[0]["doc_id"]
    delete_docs(spark, d,
                spark_index.docs.where(F.col("doc_id") == victim)
                .select("doc_id"))
    after = sorted(eng.search_segments_many(queries, k=5).collect(),
                   key=lambda r: r["rank"])
    assert victim not in [r["doc_id"] for r in after]
    # the survivors shift up one rank; rank 5 backfills (no deficit)
    assert [r["doc_id"] for r in after[:4]] == \
        [r["doc_id"] for r in before[1:5]]
    assert len(after) >= 4


def test_search_segments_masks_deletes(spark, spark_index, tmp_path_factory):
    """Tombstoned docs vanish from structured results while scores keep
    full-corpus stats (Lucene liveDocs / docFreq-includes-deletes)."""
    from pyspark.sql import functions as F
    from search_engines_spark.indexer.merge import delete_docs
    d = str(tmp_path_factory.mktemp("segs_del_struct"))
    build_segments(spark_index.postings, spark_index.doclens, d,
                   num_buckets=NUM_BUCKETS)
    eng = Engine(spark_index, "bm25")
    eng.attach_segments(d, num_buckets=NUM_BUCKETS)
    q = {"q": "#sum( #near/2( fickle creek ) farm )"}
    before = _ranked(eng.search_segments_many(q, k=30))["q"]
    assert before
    victim = before[0]["doc_id"]
    delete_docs(spark, d,
                spark_index.docs.where(F.col("doc_id") == victim)
                .select("doc_id"))
    after = _ranked(eng.search_segments_many(q, k=30)).get("q", [])
    assert victim not in [r["doc_id"] for r in after]
    # survivors keep their full-corpus-stats scores exactly
    before_scores = {r["doc_id"]: r["score"] for r in before}
    for r in after:
        if r["doc_id"] in before_scores:
            assert r["score"] == pytest.approx(before_scores[r["doc_id"]],
                                               abs=1e-9)


def test_manifest_covers_empty_buckets(spark, spark_index, tmp_path_factory):
    """Every bucket gets a manifest entry even when it owns no terms, so
    resume never relaunches work for empty buckets."""
    d = str(tmp_path_factory.mktemp("segs_many"))
    build_segments(spark_index.postings, spark_index.doclens, d,
                   num_buckets=64, chunk=64)  # 64 buckets ≫ vocab spread
    assert len(read_manifest(d)) == 64
    m2 = build_segments(spark_index.postings, spark_index.doclens, d,
                        num_buckets=64)
    assert m2["buckets_built"] == 0 and m2["buckets_skipped"] == 64


def _terms_of(node):
    if node.op == "term":
        return [node]
    out = []
    for a in node.args:
        out.extend(_terms_of(a))
    return out


def _ranked(top) -> dict:
    """Collect a (qid, …, rank) frame → {qid: rows in rank order}."""
    out = {}
    for r in sorted(top.collect(), key=lambda r: (r["qid"], r["rank"])):
        out.setdefault(r["qid"], []).append(r)
    return out


def _assert_matches_eval_sop(eng, q, rows, k):
    """rows == the compiled plan's top-k of `q` under the doc_id
    tie-break, scores within 1e-9. DAAT's documented tie-break is doc_id
    asc (ext_id asc whenever ids are assigned in ext-id order)."""
    from pyspark.sql import functions as F
    want = (eng.eval_sop(eng.parse(q)).where(F.col("score") >= 0)
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k).collect())
    assert [r["doc_id"] for r in rows] == [w["doc_id"] for w in want], q
    for g, w in zip(rows, want):
        assert g["score"] == pytest.approx(w["score"], abs=1e-9)


@pytest.mark.parametrize("deleted", [None, [3, 17]])
def test_daat_many_single_group_plans_one_kernel_partition(
        spark, spark_index, seg_dir, deleted):
    """A store within one pk group (n_docs ≤ STRIDE·STRIDES_PER_PART)
    feeds the kernel through ONE partition — the exchange plans as
    SinglePartition — and that partitioning satisfies the per-qid rank
    window, which then runs with no exchange of its own. A tombstone
    mask takes the same shape through the cogroup."""
    from search_engines_spark.literals import local_frame
    if deleted is not None:
        deleted = local_frame(spark, [(d,) for d in deleted], "doc_id long")
    queries = {"q1": {"fickle": 1, "creek": 1}, "q2": {"farm": 2}}
    ts = spark_index.term_stats
    stats = {r["term"]: (r["df"], r["ctf"]) for r in
             ts.where(ts.term.isin("fickle", "creek", "farm")).collect()}
    st = spark_index.stats_for("body")
    segs = read_segments(spark, seg_dir, terms=sorted(stats),
                         num_buckets=NUM_BUCKETS)
    top = rank_topk(bm25_wand_topk_many(
        segs, queries, stats, st["n_docs"], st["sum_len"] / st["doc_count"],
        k=10, deleted=deleted), 10)
    lines = top._jdf.queryExecution().executedPlan().toString().splitlines()
    kern = next(i for i, ln in enumerate(lines) if "InPandas" in ln)
    window = max(i for i, ln in enumerate(lines[:kern]) if "Window [" in ln)
    assert not [ln for ln in lines[window:kern] if "Exchange" in ln]
    below = [ln for ln in lines[kern:] if "REPARTITION_BY_NUM" in ln]
    assert below and all("Exchange SinglePartition" in ln for ln in below)
    assert top.count() > 0
