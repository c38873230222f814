"""Segment generations + compaction (indexer.merge): a delta appended
as a new generation scores identically to a from-scratch build, both
through the merged reader and after physical compaction — the Lucene
segment-merge lifecycle the reference delegates to TieredMergePolicy."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from search_engines_spark.engine import Engine
from search_engines_spark.indexer.codec import varbyte_decode
from search_engines_spark.indexer.merge import (
    append_segments, compact_segments, deleted_docs_df, live_generations,
    merged_batches, merge_stream_into_segments, read_segments_merged)
from search_engines_spark.indexer.segments import build_segments, read_segments

NUM_BUCKETS = 8
SPLIT = 80  # docs [0, SPLIT) are the base build, the rest arrive as a delta


def _postings_map(rows):
    out = {}
    for r in rows:
        out.setdefault((r["term"], r["field"]), {})[r["doc_id"]] = (
            r["tf"], list(r["positions"]))
    return out


def _decoded_map(block_rows):
    out = {}
    for r in block_rows:
        ids = np.cumsum(varbyte_decode(bytes(r["docids_vb"])))
        tfs = varbyte_decode(bytes(r["tfs_vb"]))
        pdel = varbyte_decode(bytes(r["positions_vb"]))
        off = 0
        run = out.setdefault((r["term"], r["field"]), {})
        for d, tf in zip(ids, tfs):
            dp = pdel[off:off + tf]
            run[int(d)] = (int(tf), list(np.cumsum(dp)))
            off += tf
    return out


def _daat(eng, q, k):
    """One query through `search_daat_many` → its rows in rank order."""
    return sorted(eng.search_daat_many({"q": q}, k=k).collect(),
                  key=lambda r: r["rank"])


@pytest.fixture(scope="module")
def merged_dir(spark, spark_index, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("merge_segs"))
    base = spark_index.postings.where(F.col("doc_id") < SPLIT)
    delta = spark_index.postings.where(F.col("doc_id") >= SPLIT)
    build_segments(base, spark_index.doclens, d, num_buckets=NUM_BUCKETS)
    m = append_segments(delta, d, num_buckets=NUM_BUCKETS)
    assert m["gen"] == 1 and not m["skipped"] and m["postings"] > 0
    return d


def test_append_is_idempotent(spark, spark_index, merged_dir):
    delta = spark_index.postings.where(F.col("doc_id") >= SPLIT)
    m = append_segments(delta, merged_dir, num_buckets=NUM_BUCKETS)
    assert m["skipped"] and m["gen"] == 1
    assert live_generations(merged_dir) == [1]


def test_merged_read_equals_full_postings(spark, spark_index, merged_dir):
    want = _postings_map(spark_index.postings.collect())
    got = _decoded_map(
        r.asDict() for r in
        read_segments_merged(spark, merged_dir,
                             num_buckets=NUM_BUCKETS).collect())
    assert got == want


def test_merged_read_is_term_pruned(spark, merged_dir):
    rows = read_segments_merged(spark, merged_dir, terms=["creek", "farm"],
                                num_buckets=NUM_BUCKETS).collect()
    assert rows and {r["term"] for r in rows} <= {"creek", "farm"}


def test_pruned_reads_build_without_jobs(spark, merged_dir,
                                         jobs_submitted):
    """Building the term-pruned readers submits no Spark job (declared
    schema: no footer inference; bucket filter constant-folded: no
    term-hashing collect), and every scan's partition filter names
    exactly the buckets pmod(xxhash64(term), B) gives over a column."""
    import re
    terms = ["creek", "farm", "fickle", "voyager"]
    want = {r["b"] for r in spark.createDataFrame(
        [(t,) for t in terms], "term string").select(
            F.pmod(F.xxhash64("term"), F.lit(NUM_BUCKETS)).alias("b"))
        .collect()}
    for i, read in enumerate((read_segments, read_segments_merged)):
        df, jobs = jobs_submitted(
            f"pruned-read-{i}",
            lambda: read(spark, merged_dir, terms=terms,
                         num_buckets=NUM_BUCKETS))
        assert jobs == [], read.__name__
        plan = df._jdf.queryExecution().sparkPlan().toString()
        filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert len(filters) == (1 if read is read_segments else 2)
        for f in filters:
            assert "xxhash64" not in f
            got = re.search(r"bucket#\d+ IN \(([\d,]+)\)", f).group(1)
            assert {int(b) for b in got.split(",")} == want


def test_deleted_docs_mixed_stamped_and_unstamped(spark, tmp_path,
                                                  jobs_submitted):
    """A tombstone directory holding a file from before gen-stamping
    (doc_id only) and a stamped one reads the same ids as a
    mergeSchema read — unstamped rows count as generation 0 — at every
    snapshot, and building the mask submits no job. An id deleted twice
    may appear twice (its readers ignore repeats), so ids compare as
    sets."""
    d = str(tmp_path)
    tomb = os.path.join(d, "_tombstones")
    spark.createDataFrame([(1,), (2,)], "doc_id long").write.parquet(tomb)
    spark.createDataFrame([(2, 1), (7, 1)], "doc_id long, gen int") \
        .write.mode("append").parquet(tomb)
    ref = spark.read.option("mergeSchema", "true").parquet(tomb)
    for as_of, ids in ((0, [1, 2]), (1, [1, 2, 7]), (None, [1, 2, 7])):
        mask, jobs = jobs_submitted(
            f"tombstones-{as_of}",
            lambda: deleted_docs_df(spark, d, as_of=as_of))
        assert jobs == []
        want = ref if as_of is None else ref.where(
            F.coalesce(F.col("gen"), F.lit(0)) <= as_of)
        want = sorted(r["doc_id"] for r in
                      want.select("doc_id").distinct().collect())
        got = sorted({r["doc_id"] for r in mask.collect()})
        assert got == want == ids


def test_tombstone_ids_write_from_a_local_table(spark, tmp_path):
    """delete_docs writes an iterable of ids from a JVM-local VALUES
    table: the write plan's leaf is a LocalTableScan, not a scan of a
    Python RDD, and the ids read back stamped with the generation."""
    from search_engines_spark.indexer.merge import delete_docs
    d = str(tmp_path)
    assert delete_docs(spark, d, [5, 3, 5]) == {"deleted_total": 2}
    execs = spark._jsparkSession.sharedState().statusStore() \
        .executionsList()
    plans = [execs.apply(i).physicalPlanDescription()
             for i in range(execs.size())]
    write = [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p
             and os.path.join(d, "_tombstones") in p][-1]
    assert "LocalTableScan" in write and "ExistingRDD" not in write
    rows = spark.read.parquet(os.path.join(d, "_tombstones")).collect()
    assert sorted(tuple(r) for r in rows) == [(3, 0), (5, 0), (5, 0)]


def test_daat_over_generations_matches_engine(spark, spark_index, merged_dir):
    """search_daat_many reads base ∪ generations transparently and stays
    rank-identical to the set-at-a-time plan over the FULL index."""
    eng = Engine(spark_index, "bm25")
    eng.attach_segments(merged_dir, num_buckets=NUM_BUCKETS)
    got = _daat(eng, "fickle creek farm", k=20)
    want = eng.search("fickle creek farm", k=20).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    assert np.allclose([r["score"] for r in got],
                       [r["score"] for r in want], atol=1e-9)


def test_compaction_folds_generations(spark, spark_index, merged_dir):
    want = _postings_map(spark_index.postings.collect())
    m = compact_segments(spark, merged_dir, num_buckets=NUM_BUCKETS, chunk=3)
    assert m["compacted_gens"] == 1 and m["buckets_rebuilt"] > 0
    assert live_generations(merged_dir) == []
    assert not os.path.isdir(os.path.join(merged_dir, "_delta", "gen=1"))
    # base-only read now carries everything, bit-exact
    got = _decoded_map(
        r.asDict() for r in
        read_segments(spark, merged_dir, num_buckets=NUM_BUCKETS).collect())
    assert got == want
    # second compaction is a no-op
    assert compact_segments(spark, merged_dir,
                            num_buckets=NUM_BUCKETS)["compacted_gens"] == 0
    # queries unchanged post-compaction
    eng = Engine(spark_index, "bm25")
    eng.attach_segments(merged_dir, num_buckets=NUM_BUCKETS)
    got_q = _daat(eng, "fickle creek farm", k=20)
    want_q = eng.search("fickle creek farm", k=20).collect()
    assert [r["doc_id"] for r in got_q] == [r["doc_id"] for r in want_q]


def test_delete_tombstones_and_purge(spark, spark_index, tmp_path_factory):
    """delete_docs masks docs out of DAAT results at score time with
    full-corpus stats (Lucene liveDocs/docFreq semantics); a purging
    merge physically removes the postings and clears the tombstones."""
    from search_engines_spark.indexer.merge import (delete_docs,
                                                    deleted_doc_ids)
    d = str(tmp_path_factory.mktemp("del_segs"))
    build_segments(spark_index.postings, spark_index.doclens, d,
                   num_buckets=NUM_BUCKETS)
    eng = Engine(spark_index, "bm25")
    eng.attach_segments(d, num_buckets=NUM_BUCKETS)
    before = _daat(eng, "fickle creek farm", k=30)
    victims = [r["doc_id"] for r in before[:2]]
    m = delete_docs(spark, d, victims)
    assert m["deleted_total"] == 2
    # idempotent replay
    delete_docs(spark, d, victims)
    assert list(deleted_doc_ids(spark, d)) == sorted(victims)
    after = _daat(eng, "fickle creek farm", k=30)
    got = [(r["doc_id"], round(r["score"], 9)) for r in after]
    # exactly the undeleted prefix, scores unchanged (full-corpus stats)
    want = [(r["doc_id"], round(r["score"], 9)) for r in before
            if r["doc_id"] not in victims][:len(got)]
    assert got == want and not {v for v, _ in got} & set(victims)
    # purge = forceMerge: postings physically gone, tombstones cleared
    pm = compact_segments(spark, d, num_buckets=NUM_BUCKETS,
                          purge_deletes=True)
    assert pm["purged_deletes"] == 2 and pm["buckets_rebuilt"] > 0
    assert deleted_doc_ids(spark, d).size == 0
    decoded = _decoded_map(
        r.asDict() for r in
        read_segments(spark, d, num_buckets=NUM_BUCKETS).collect())
    all_docs = {doc for run in decoded.values() for doc in run}
    assert not all_docs & set(victims)
    post = _daat(eng, "fickle creek farm", k=30)
    assert [(r["doc_id"], round(r["score"], 9)) for r in post] == want


def _fresh_base_plus_delta(spark_index, tmp_path_factory, name):
    d = str(tmp_path_factory.mktemp(name))
    base = spark_index.postings.where(F.col("doc_id") < SPLIT)
    delta = spark_index.postings.where(F.col("doc_id") >= SPLIT)
    build_segments(base, spark_index.doclens, d, num_buckets=NUM_BUCKETS)
    append_segments(delta, d, num_buckets=NUM_BUCKETS)
    return d


def _crash_at(point, idx):
    def hook(stage, i):
        if stage == point and i == idx:
            raise RuntimeError(f"injected crash at {stage}[{i}]")
    return hook


@pytest.mark.parametrize("crash_point", ["chunk_written", "chunk_journaled",
                                         "chunk_published"])
def test_compaction_replay_after_crash(spark, spark_index, tmp_path_factory,
                                       crash_point):
    """Driver crash at EVERY per-chunk boundary (after the staging
    write / after the journal append — the commit point / after the
    publish renames) must leave (a) readers correct in the crash
    window — no double-counted and no missing delta postings — and
    (b) a replayed compaction producing the exact from-scratch
    postings multiset."""
    from search_engines_spark.indexer import merge as merge_mod
    from search_engines_spark.indexer.merge import pending_txns
    d = _fresh_base_plus_delta(spark_index, tmp_path_factory,
                               f"crash_{crash_point}")
    want = _postings_map(spark_index.postings.collect())
    merge_mod._test_crash_hook = _crash_at(crash_point, 0)
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            compact_segments(spark, d, num_buckets=NUM_BUCKETS, chunk=2)
    finally:
        merge_mod._test_crash_hook = None
    # crash-window read must be exact at every boundary:
    # * chunk_written: staging is invisible garbage, base ∪ gen serve;
    # * chunk_journaled: the txn is committed but unpublished — every
    #   reader serves its buckets from staging (readers never publish:
    #   concurrent read-time roll-forward could lose buckets, so
    #   finishing the publish is the next compaction's replay step);
    # * chunk_published: base holds the buckets, folded_buckets skips
    #   the gen's copies.
    pend_before = dict(pending_txns(d))
    if crash_point == "chunk_journaled":
        assert list(pend_before) == [1]       # committed, unpublished
        real_pub = merge_mod._publish_txn

        def deny(*a, **k):
            raise AssertionError("readers must not publish")

        merge_mod._publish_txn = deny
        try:
            ro = _decoded_map(
                r.asDict() for r in
                read_segments_merged(spark, d,
                                     num_buckets=NUM_BUCKETS).collect())
        finally:
            merge_mod._publish_txn = real_pub
        assert ro == want                     # staging-read exact
    got_mid = _decoded_map(
        r.asDict() for r in
        read_segments_merged(spark, d, num_buckets=NUM_BUCKETS).collect())
    assert got_mid == want
    assert live_generations(d) == [1]
    # reads leave the store untouched — publish is writer-only
    assert pending_txns(d) == pend_before
    if crash_point == "chunk_written":
        # nothing folded yet → the pre-delta snapshot is still intact
        base_only = _decoded_map(
            r.asDict() for r in
            read_segments_merged(spark, d, num_buckets=NUM_BUCKETS,
                                 as_of=0).collect())
        assert base_only == _postings_map(
            spark_index.postings.where(F.col("doc_id") < SPLIT).collect())
    else:
        # a journaled chunk already folded gen-1 postings into the base
        # (or its staged rebuild) — snapshot 0 is gone and must say so,
        # not silently include gen-1 documents
        with pytest.raises(ValueError, match="expired"):
            read_segments_merged(spark, d, num_buckets=NUM_BUCKETS,
                                 as_of=0)
    # replay to completion: every posting encoded exactly once, crashed
    # txns published or swept, no staging residue
    m = compact_segments(spark, d, num_buckets=NUM_BUCKETS, chunk=2)
    assert m["compacted_gens"] == 1
    assert live_generations(d) == []
    assert pending_txns(d) == {}
    rb = os.path.join(d, "_rebuild")
    assert not os.path.isdir(rb) or not os.listdir(rb)
    got = _decoded_map(
        r.asDict() for r in
        read_segments(spark, d, num_buckets=NUM_BUCKETS).collect())
    assert got == want
    eng = Engine(spark_index, "bm25")
    eng.attach_segments(d, num_buckets=NUM_BUCKETS)
    got_q = _daat(eng, "fickle creek farm", k=20)
    want_q = eng.search("fickle creek farm", k=20).collect()
    assert [r["doc_id"] for r in got_q] == [r["doc_id"] for r in want_q]
    assert np.allclose([r["score"] for r in got_q],
                       [r["score"] for r in want_q], atol=1e-9)


def test_compaction_chained_crashes(spark, spark_index, tmp_path_factory):
    """A flaky driver: crash at the journal of chunk 0, replay and crash
    at the staging write of the NEXT chunk, replay and crash at that
    chunk's publish, then replay to completion. Readers must be exact in
    every window and the final store must equal a from-scratch build —
    the north rule's resume-without-recomputation clause under repeated
    failure, not just a single crash."""
    from search_engines_spark.indexer import merge as merge_mod
    from search_engines_spark.indexer.merge import pending_txns
    d = _fresh_base_plus_delta(spark_index, tmp_path_factory, "chained")
    want = _postings_map(spark_index.postings.collect())

    def run_crashing(point, idx):
        merge_mod._test_crash_hook = _crash_at(point, idx)
        try:
            with pytest.raises(RuntimeError, match="injected crash"):
                compact_segments(spark, d, num_buckets=NUM_BUCKETS, chunk=2)
        finally:
            merge_mod._test_crash_hook = None
        got = _decoded_map(
            r.asDict() for r in
            read_segments_merged(spark, d,
                                 num_buckets=NUM_BUCKETS).collect())
        assert got == want, f"reader wrong after crash at {point}[{idx}]"

    run_crashing("chunk_journaled", 0)
    # readers never publish — txn 1 stays pending until the next
    # compaction's replay step finishes it
    assert list(pending_txns(d)) == [1]
    # replay 1 publishes txn 1 first, then crashes staging chunk 1
    run_crashing("chunk_written", 1)
    assert pending_txns(d) == {}
    # replay 2 re-stages chunk 1 (its journal never landed) and crashes
    # after its publish
    run_crashing("chunk_published", 1)
    assert pending_txns(d) == {}
    m = compact_segments(spark, d, num_buckets=NUM_BUCKETS, chunk=2)
    assert m["compacted_gens"] == 1 and live_generations(d) == []
    got = _decoded_map(
        r.asDict() for r in
        read_segments(spark, d, num_buckets=NUM_BUCKETS).collect())
    assert got == want


def test_publish_crash_between_retire_and_swap(spark, spark_index,
                                               tmp_path_factory):
    """The rename-aside publish has a window where the old base bucket
    is retired but the staged bucket hasn't swapped in yet. A crash
    there must leave readers exact (the txn is still pending, so its
    buckets are served from staging; the base scan of a missing bucket
    dir reads nothing) and a replay must finish the publish."""
    from search_engines_spark.indexer import merge as merge_mod
    from search_engines_spark.indexer.merge import pending_txns
    d = _fresh_base_plus_delta(spark_index, tmp_path_factory, "retire_crash")
    want = _postings_map(spark_index.postings.collect())
    # crash the first compaction right after its journal append
    merge_mod._test_crash_hook = _crash_at("chunk_journaled", 0)
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            compact_segments(spark, d, num_buckets=NUM_BUCKETS, chunk=2)
    finally:
        merge_mod._test_crash_hook = None
    pend = pending_txns(d)
    assert list(pend) == [1]
    first_bucket = sorted(pend[1])[0]
    # replay crashes mid-publish: old bucket retired, staging not yet in
    merge_mod._test_crash_hook = _crash_at("bucket_retired", first_bucket)
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            compact_segments(spark, d, num_buckets=NUM_BUCKETS, chunk=2)
    finally:
        merge_mod._test_crash_hook = None
    assert not os.path.isdir(os.path.join(d, f"bucket={first_bucket}"))
    assert list(pending_txns(d)) == [1]      # marker never landed
    got = _decoded_map(
        r.asDict() for r in
        read_segments_merged(spark, d, num_buckets=NUM_BUCKETS).collect())
    assert got == want                       # staging serves the bucket
    m = compact_segments(spark, d, num_buckets=NUM_BUCKETS, chunk=2)
    assert m["compacted_gens"] == 1 and pending_txns(d) == {}
    got = _decoded_map(
        r.asDict() for r in
        read_segments(spark, d, num_buckets=NUM_BUCKETS).collect())
    assert got == want


def test_purge_all_docs_never_resurrects(spark, spark_index,
                                         tmp_path_factory):
    """purge_deletes with EVERY doc tombstoned: dynamic overwrite gets a
    placeholder row per bucket, so buckets whose postings were all
    deleted are physically replaced — a subsequent read finds zero live
    postings instead of the pre-purge files coming back unmasked."""
    from search_engines_spark.indexer.merge import delete_docs
    d = str(tmp_path_factory.mktemp("purge_all"))
    build_segments(spark_index.postings, spark_index.doclens, d,
                   num_buckets=NUM_BUCKETS)
    all_ids = [r["doc_id"] for r in
               spark_index.docs.select("doc_id").collect()]
    delete_docs(spark, d, all_ids)
    pm = compact_segments(spark, d, num_buckets=NUM_BUCKETS,
                          purge_deletes=True)
    assert pm["purged_deletes"] == len(all_ids)
    assert read_segments(spark, d, num_buckets=NUM_BUCKETS).count() == 0
    eng = Engine(spark_index, "bm25")
    eng.attach_segments(d, num_buckets=NUM_BUCKETS)
    assert _daat(eng, "fickle creek farm", k=10) == []


def test_mask_with_deletes_far_exceeding_k(spark, spark_index,
                                           tmp_path_factory):
    """Delete-heavy store between purges (|deleted| ≫ k): masking must
    live INSIDE the plans — a cogrouped mask for the DAAT kernel and a
    left-anti join before the per-query rank for the decode path — with
    fetch depth k, never a driver array or a k+|deleted| over-fetch."""
    from search_engines_spark.indexer.merge import delete_docs
    d = str(tmp_path_factory.mktemp("mask_scale"))
    build_segments(spark_index.postings, spark_index.doclens, d,
                   num_buckets=NUM_BUCKETS)
    eng = Engine(spark_index, "bm25")
    eng.attach_segments(d, num_buckets=NUM_BUCKETS)
    k = 5
    full = eng.search("fickle creek farm", k=1000).collect()
    # tombstone ~60% of the corpus, including some of the current top-k
    all_ids = sorted(r["doc_id"] for r in
                     spark_index.docs.select("doc_id").collect())
    victims = {i for i in all_ids if i % 5 != 0} | \
        {r["doc_id"] for r in full[:2]}
    delete_docs(spark, d, sorted(victims))
    assert len(victims) > 20 * k
    want = [(r["doc_id"], round(r["score"], 9)) for r in full
            if r["doc_id"] not in victims][:k]
    got_daat = [(r["doc_id"], round(r["score"], 9))
                for r in _daat(eng, "fickle creek farm", k=k)]
    assert got_daat == want
    res = eng.search_segments_many(
        {"q1": "fickle creek farm", "q2": "#near/2( creek farm )"}, k=k)
    plan = res._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftAnti" in plan           # mask inside the batched plan
    rows = res.collect()
    assert not {r["doc_id"] for r in rows} & victims
    got_q1 = [(r["doc_id"], round(r["score"], 9))
              for r in sorted((r for r in rows if r["qid"] == "q1"),
                              key=lambda r: r["rank"])]
    assert got_q1 == want
    assert max(r["rank"] for r in rows) <= k


def test_merge_stream_batches(spark, spark_index, tmp_path_factory):
    """batch_id-partitioned stream sink → one generation per merge call,
    already-merged batches never re-append."""
    stream_dir = str(tmp_path_factory.mktemp("stream_sink"))
    seg_dir = str(tmp_path_factory.mktemp("stream_segs"))
    base = spark_index.postings.where(F.col("doc_id") < SPLIT)
    build_segments(base, spark_index.doclens, seg_dir,
                   num_buckets=NUM_BUCKETS)
    delta = spark_index.postings.where(F.col("doc_id") >= SPLIT)
    (delta.withColumn("batch_id",
                      (F.col("doc_id") % 2).cast("long"))
     .write.mode("overwrite").partitionBy("batch_id").parquet(stream_dir))
    m = merge_stream_into_segments(spark, stream_dir, seg_dir,
                                   num_buckets=NUM_BUCKETS)
    assert m["batches"] == [0, 1] and not m["skipped"]
    assert merged_batches(seg_dir) == {0, 1}
    m2 = merge_stream_into_segments(spark, stream_dir, seg_dir,
                                    num_buckets=NUM_BUCKETS)
    assert m2["skipped"]
    got = _decoded_map(
        r.asDict() for r in
        read_segments_merged(spark, seg_dir,
                             num_buckets=NUM_BUCKETS).collect())
    assert got == _postings_map(spark_index.postings.collect())


def test_update_supersedes_and_time_travels(spark, corpus_rows,
                                            tmp_path_factory):
    """update_segments re-ingests changed files at a new commit (new
    doc_ids appended, old versions tombstoned) and `as_of` pins reads to
    each snapshot; compaction expires history."""
    from search_engines_spark.indexer.build import (build_index_frames,
                                                    build_postings,
                                                    docs_from_code_corpus)
    from search_engines_spark.indexer.merge import (compaction_floor,
                                                    superseded_doc_ids,
                                                    update_segments)
    d = str(tmp_path_factory.mktemp("upd_segs"))
    schema = "repo string, path string, commit string, lang string, content string"
    src_v1 = spark.createDataFrame(corpus_rows, schema)
    idx_v1 = build_index_frames(docs_from_code_corpus(src_v1))
    build_segments(idx_v1.postings, idx_v1.doclens, d,
                   num_buckets=NUM_BUCKETS)

    # the crawl delta: two files re-ingested at a new commit, content
    # changed — one keeps its topical terms, one gains a unique term
    changed = [r for r in corpus_rows
               if "fickle" in r["content"]][:2]
    assert len(changed) == 2
    delta_rows = [{**r, "commit": "f" * 40,
                   "content": r["content"] + " renovated"}
                  for r in changed]
    delta_src = spark.createDataFrame(delta_rows, schema)
    offset = idx_v1.docs.agg(F.max("doc_id")).first()[0] + 1
    delta_docs = docs_from_code_corpus(delta_src) \
        .withColumn("doc_id", F.col("doc_id") + F.lit(offset))

    # the logical index over v1 ∪ delta is the stats source (full-corpus
    # stats until a purging merge — same contract as delete_docs)
    union_src = src_v1.unionByName(delta_src)
    docs_union = docs_from_code_corpus(src_v1).unionByName(
        delta_docs)  # v1 keeps its ids; delta ids start at offset
    idx_union = build_index_frames(docs_union)
    eng = Engine(idx_union, "bm25")
    eng.attach_segments(d, num_buckets=NUM_BUCKETS)
    before = _daat(eng, "fickle creek farm", k=30)
    assert before and union_src.count() == len(corpus_rows) + 2

    victims = superseded_doc_ids(idx_v1.docs, delta_src)
    vids = {r["doc_id"] for r in victims.collect()}
    assert len(vids) == 2
    m = update_segments(spark, d, build_postings(delta_docs), victims,
                        num_buckets=NUM_BUCKETS)
    assert m["gen"] == 1 and not m["skipped"] and m["deleted_total"] == 2

    # current read: old versions gone, new versions (ids >= offset) live
    after = _daat(eng, "fickle creek farm", k=30)
    got_ids = {r["doc_id"] for r in after}
    assert not got_ids & vids
    assert any(i >= offset for i in got_ids)
    # scores match the set-at-a-time plan over the union index minus
    # the superseded docs (full-corpus stats, like delete_docs)
    want = [(r["doc_id"], round(r["score"], 9))
            for r in eng.search("fickle creek farm", k=40).collect()
            if r["doc_id"] not in vids][:len(after)]
    assert [(r["doc_id"], round(r["score"], 9)) for r in after] == want
    # the new content is searchable...
    ren = _daat(eng, "renovated", k=10)
    assert {r["doc_id"] for r in ren} == {offset, offset + 1}

    # ...and time travel reproduces the pre-update snapshot exactly
    eng.attach_segments(d, num_buckets=NUM_BUCKETS, as_of=0)
    got0 = _daat(eng, "fickle creek farm", k=30)
    assert [(r["doc_id"], round(r["score"], 9)) for r in got0] == \
        [(r["doc_id"], round(r["score"], 9)) for r in before]
    assert _daat(eng, "renovated", k=10) == []

    # replaying the same update converges (append skipped by fingerprint,
    # tombstones are a set)
    m2 = update_segments(spark, d, build_postings(delta_docs), victims,
                         num_buckets=NUM_BUCKETS)
    assert m2["skipped"] and m2["deleted_total"] == 2
    eng.attach_segments(d, num_buckets=NUM_BUCKETS)
    again = _daat(eng, "fickle creek farm", k=30)
    assert [(r["doc_id"], r["score"]) for r in again] == \
        [(r["doc_id"], r["score"]) for r in after]

    # compaction folds gen 1 into the base: snapshot 0 expires
    compact_segments(spark, d, num_buckets=NUM_BUCKETS)
    assert compaction_floor(d) == 1
    post = _daat(eng, "fickle creek farm", k=30)
    assert [(r["doc_id"], r["score"]) for r in post] == \
        [(r["doc_id"], r["score"]) for r in after]
    eng.attach_segments(d, num_buckets=NUM_BUCKETS, as_of=0)
    with pytest.raises(ValueError, match="expired"):
        _daat(eng, "fickle creek farm", k=5)


def test_journal_torn_tail_is_crash_debris(spark, spark_index,
                                           tmp_path_factory):
    """A crash mid journal-append leaves a torn line (possibly without
    its newline): readers must skip it as never-committed, and the next
    append must isolate it rather than fuse onto it — for both the
    generation journal and the build manifest."""
    d = str(tmp_path_factory.mktemp("torn_journal"))
    base = spark_index.postings.where(F.col("doc_id") < SPLIT)
    delta = spark_index.postings.where(F.col("doc_id") >= SPLIT)
    build_segments(base, spark_index.doclens, d, num_buckets=NUM_BUCKETS)
    want_base = _decoded_map(
        r.asDict() for r in
        read_segments_merged(spark, d, num_buckets=NUM_BUCKETS).collect())
    for name in ("_manifest.jsonl", "_delta_manifest.jsonl"):
        p = os.path.join(d, name)
        with open(p, "a") as f:
            f.write('{"gen": 77, "fingerp')   # torn tail, no newline
    # reads skip the debris...
    got = _decoded_map(
        r.asDict() for r in
        read_segments_merged(spark, d, num_buckets=NUM_BUCKETS).collect())
    assert got == want_base
    assert live_generations(d) == []
    # ...and the next append commits cleanly on its own line
    m = append_segments(delta, d, num_buckets=NUM_BUCKETS)
    assert not m["skipped"] and m["gen"] == 1
    assert live_generations(d) == [1]
    want_full = _postings_map(spark_index.postings.collect())
    got = _decoded_map(
        r.asDict() for r in
        read_segments_merged(spark, d, num_buckets=NUM_BUCKETS).collect())
    assert got == want_full
