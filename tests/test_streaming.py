"""Streaming ingest == batch build over the same files (exactly-once,
byte-identical postings)."""

import pytest

from search_engines_spark.indexer.build import (
    build_postings, docs_from_documents_table)
from search_engines_spark.streaming.ingest import (
    start_postings_stream, stream_corpus_stats)


@pytest.fixture(scope="module")
def doc_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("docstream"))
    rows = [(i, f"alpha beta gamma doc {i} " * (1 + i % 3), "en", "s", 10)
            for i in range(30)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    df.repartition(3).write.mode("overwrite").parquet(d)
    return d


def _postings_set(df):
    return {(r["term"], r["doc_id"]): (r["tf"], list(r["positions"]))
            for r in df.collect()}


def test_stream_postings_match_batch(spark, doc_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("post_out"))
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    q = start_postings_stream(spark, doc_dir, out, ckpt)
    q.awaitTermination(120)
    got = _postings_set(spark.read.parquet(out).drop("batch_id"))
    batch_docs = docs_from_documents_table(spark.read.parquet(doc_dir))
    want = _postings_set(build_postings(batch_docs))
    assert got == want


def test_stream_restart_is_exactly_once(spark, doc_dir, tmp_path_factory):
    """Re-running with the same checkpoint must NOT duplicate postings."""
    out = str(tmp_path_factory.mktemp("post_out2"))
    ckpt = str(tmp_path_factory.mktemp("ckpt2"))
    for _ in range(2):
        q = start_postings_stream(spark, doc_dir, out, ckpt)
        q.awaitTermination(120)
    n = spark.read.parquet(out).count()
    batch_docs = docs_from_documents_table(spark.read.parquet(doc_dir))
    assert n == build_postings(batch_docs).count()


def test_stream_picks_up_new_files(spark, doc_dir, tmp_path_factory):
    """New files after the first run are ingested incrementally (only the
    delta lands in a new batch partition)."""
    out = str(tmp_path_factory.mktemp("post_out3"))
    ckpt = str(tmp_path_factory.mktemp("ckpt3"))
    q = start_postings_stream(spark, doc_dir, out, ckpt)
    q.awaitTermination(120)
    n1 = spark.read.parquet(out).count()
    extra = spark.createDataFrame(
        [(1000, "delta epsilon zeta", "en", "s", 10)],
        "doc_id long, text string, lang string, source string, n_chars long")
    extra.coalesce(1).write.mode("append").parquet(doc_dir)
    q = start_postings_stream(spark, doc_dir, out, ckpt)
    q.awaitTermination(120)
    df = spark.read.parquet(out)
    assert df.count() == n1 + 3  # three new (term, doc) postings
    assert df.where("doc_id = 1000").count() == 3


def test_stream_corpus_stats(spark, doc_dir, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("ckpt4"))
    q = (stream_corpus_stats(spark, doc_dir).writeStream
         .format("memory").queryName("cstats").outputMode("complete")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    row = spark.sql("select * from cstats").collect()[0]
    assert row["n_docs"] >= 30
    assert row["sum_len"] > 0


def test_publish_journal_gates_merge_and_guards_checkpoint(
        spark, doc_dir, tmp_path_factory):
    """merge_stream_into_segments must consume only batches the ingest
    journal has published (an unpublished partition is invisible, not
    committed-and-skipped-forever), and restarting a sink under a
    different checkpoint must fail fast instead of rewinding batch ids
    over published data."""
    import os

    from pyspark.sql import functions as F

    from search_engines_spark.indexer.merge import merge_stream_into_segments
    from search_engines_spark.streaming.ingest import published_batches
    out = str(tmp_path_factory.mktemp("post_out_j"))
    ckpt = str(tmp_path_factory.mktemp("ckpt_j"))
    q = start_postings_stream(spark, doc_dir, out, ckpt)
    q.awaitTermination(120)
    pub = published_batches(out)
    assert pub, "journal should have published the processed batches"
    # simulate a half-published partition: data present, journal entry
    # absent (a crash between write and publish, or a mid-write read)
    seg = str(tmp_path_factory.mktemp("segs_j"))
    victim = max(pub)
    jpath = os.path.join(out, "_ingest_journal.jsonl")
    lines = open(jpath).read().splitlines()
    kept = [ln for ln in lines if f'"batch_id": {victim}' not in ln]
    open(jpath, "w").write("\n".join(kept) + "\n")
    m1 = merge_stream_into_segments(spark, out, seg, num_buckets=4)
    assert victim not in set(m1.get("batches", []))
    # publishing the batch makes the next merge pick it up — no loss
    open(jpath, "a").write('{"batch_id": %d}\n' % victim)
    m2 = merge_stream_into_segments(spark, out, seg, num_buckets=4)
    assert set(m2["batches"]) == {victim}
    # every posting of the journal-gated batch landed in the generation
    victim_rows = (spark.read.parquet(out)
                   .where(F.col("batch_id") == victim).count())
    assert m2["postings"] == victim_rows > 0
    # fresh checkpoint over the same sink = batch-id rewind: refuse
    ckpt2 = str(tmp_path_factory.mktemp("ckpt_j2"))
    with pytest.raises(ValueError, match="rewind"):
        start_postings_stream(spark, doc_dir, out, ckpt2)


# --------------------------------------------------- streaming dedup --

DEDUP_SCHEMA = ("doc_id long, text string, lang string, source string, "
                "n_chars long")


def _write_doc_file(spark, d, rows, mtime):
    """One parquet file of rows with a controlled mtime so the file
    stream source (mtime-ordered) sees deterministic batch order."""
    import os
    tmp = d + f"/_stage{mtime}"
    df = spark.createDataFrame(rows, DEDUP_SCHEMA)
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
    dst = os.path.join(d, f"f{mtime}.parquet")
    os.rename(os.path.join(tmp, part), dst)
    os.utime(dst, (mtime, mtime))
    return dst


def _row(i, text):
    return (i, text, "en", "s", 10)


def test_stream_dedup_first_wins_across_batches(spark, tmp_path_factory):
    """A later batch re-sending earlier content emits nothing for it;
    novel content still flows. maxFilesPerTrigger=1 forces the
    cross-batch path (state = the survivor sink, not a state store)."""
    from search_engines_spark.streaming.dedup import (
        dedup_survivors, start_dedup_stream)
    src = str(tmp_path_factory.mktemp("dsrc"))
    out = str(tmp_path_factory.mktemp("dout"))
    ckpt = str(tmp_path_factory.mktemp("dckpt"))
    _write_doc_file(spark, src,
                    [_row(i, f"content number {i}") for i in range(10)],
                    1_000_000)
    _write_doc_file(spark, src,
                    [_row(10 + j, f"content number {j}") for j in range(5)]
                    + [_row(15 + j, f"novel text {j}") for j in range(5)],
                    1_000_100)
    q = start_dedup_stream(spark, src, out, ckpt, max_files_per_trigger=1)
    q.awaitTermination(120)
    surv = dedup_survivors(spark, out)
    ids = sorted(r["doc_id"] for r in surv.collect())
    assert ids == list(range(10)) + [15, 16, 17, 18, 19]
    # the duplicates landed in batch 0's partition only
    assert surv.where("batch_id = 1").count() == 5
    assert surv.select("fp").distinct().count() == 15


def test_stream_dedup_equals_batch_min_per_fp(spark, tmp_path_factory):
    """Survivors == the batch GROUP BY fp MIN(doc_id) over all files,
    including in-batch duplicates (deterministic min, not an arbitrary
    dropDuplicates row)."""
    from pyspark.sql import functions as F

    from search_engines_spark.streaming.dedup import (
        dedup_survivors, start_dedup_stream)
    src = str(tmp_path_factory.mktemp("dsrc2"))
    out = str(tmp_path_factory.mktemp("dout2"))
    ckpt = str(tmp_path_factory.mktemp("dckpt2"))
    rows = ([_row(i, f"text {i % 7}") for i in range(20)]   # in-file dups
            + [_row(20, None), _row(21, "")])  # NULL text == '' fingerprint
    _write_doc_file(spark, src, rows[:11], 2_000_000)
    _write_doc_file(spark, src, rows[11:], 2_000_100)
    q = start_dedup_stream(spark, src, out, ckpt)
    q.awaitTermination(120)
    got = {(r["doc_id"], r["fp"])
           for r in dedup_survivors(spark, out).collect()}
    want = {(r["doc_id"], r["fp"]) for r in
            (spark.read.parquet(src)
             .select("doc_id", F.sha2(F.coalesce("text", F.lit("")), 256)
                     .alias("fp"))
             .groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
             .select("doc_id", "fp")).collect()}
    assert got == want
    # NULL and '' text collapse to one survivor (doc 20)
    assert sum(1 for d, _ in got if d in (20, 21)) == 1 and (
        20, ) == tuple(d for d, _ in got if d in (20, 21))


def test_stream_dedup_restart_idempotent_and_rewind_guard(
        spark, tmp_path_factory):
    from search_engines_spark.streaming.dedup import (
        dedup_survivors, start_dedup_stream)
    src = str(tmp_path_factory.mktemp("dsrc3"))
    out = str(tmp_path_factory.mktemp("dout3"))
    ckpt = str(tmp_path_factory.mktemp("dckpt3"))
    _write_doc_file(spark, src,
                    [_row(i, f"body {i}") for i in range(8)], 3_000_000)
    for _ in range(2):       # same checkpoint: no duplicate survivors
        q = start_dedup_stream(spark, src, out, ckpt)
        q.awaitTermination(120)
    assert dedup_survivors(spark, out).count() == 8
    ckpt2 = str(tmp_path_factory.mktemp("dckpt3b"))
    with pytest.raises(ValueError, match="rewind"):
        start_dedup_stream(spark, src, out, ckpt2)


def test_stream_sketches_equal_batch_any_split(spark, tmp_path_factory):
    """Merged streamed CMS cells / HLL registers == a batch build over
    the same files (merge by sum / max is exact for any batch split;
    maxFilesPerTrigger=1 forces the multi-batch path)."""
    from pyspark.sql import functions as F

    from search_engines_spark.pipeline.sketches import cms_build, hll_build
    from search_engines_spark.pipeline.dedup import tokens_expr
    from search_engines_spark.streaming.sketches import (
        start_sketch_stream, stream_cms, stream_hll)
    src = str(tmp_path_factory.mktemp("sksrc"))
    out = str(tmp_path_factory.mktemp("skout"))
    ckpt = str(tmp_path_factory.mktemp("skckpt"))
    _write_doc_file(spark, src,
                    [_row(i, f"alpha beta tok{i} gamma") for i in range(12)],
                    3_000_000)
    _write_doc_file(spark, src,
                    [_row(100 + i, f"alpha delta tok{i}") for i in range(8)],
                    3_000_100)
    q = start_sketch_stream(spark, src, out, ckpt, max_files_per_trigger=1)
    q.awaitTermination(120)
    docs = spark.read.parquet(src)
    want_cms = sorted(map(tuple, cms_build(docs).collect()))
    got_cms = sorted(map(tuple, stream_cms(spark, out).collect()))
    assert got_cms == want_cms
    want_hll = sorted(map(tuple, hll_build(
        docs.select(F.explode(tokens_expr("text")).alias("t")), "t").collect()))
    got_hll = sorted(map(tuple, stream_hll(spark, out).collect()))
    assert got_hll == want_hll


def test_stream_sketches_restart_idempotent(spark, tmp_path_factory):
    """Re-running with the same checkpoint neither double-counts CMS
    cells nor changes HLL registers; a different checkpoint against the
    same sink fails fast."""
    import pytest as _pytest

    from search_engines_spark.pipeline.sketches import cms_build
    from search_engines_spark.streaming.sketches import (
        start_sketch_stream, stream_cms)
    src = str(tmp_path_factory.mktemp("sksrc2"))
    out = str(tmp_path_factory.mktemp("skout2"))
    ckpt = str(tmp_path_factory.mktemp("skckpt2"))
    _write_doc_file(spark, src,
                    [_row(i, f"alpha beta tok{i}") for i in range(10)],
                    4_000_000)
    for _ in range(2):
        q = start_sketch_stream(spark, src, out, ckpt)
        q.awaitTermination(120)
    got = sorted(map(tuple, stream_cms(spark, out).collect()))
    want = sorted(map(tuple,
                      cms_build(spark.read.parquet(src)).collect()))
    assert got == want
    with _pytest.raises(ValueError, match="checkpoint"):
        start_sketch_stream(spark, src, out,
                            str(tmp_path_factory.mktemp("other_ckpt")))


def test_stream_ann_equals_batch(spark, tmp_path_factory):
    """Two-batch embedding stream → IVF-PQ index must answer probes
    IDENTICALLY to a batch `write_ivfpq_index` over the same vectors
    (the frozen seeds arrive in batch 0, so codebooks coincide), and a
    checkpointed restart must be a no-op (fingerprint-idempotent
    generations)."""
    import os
    import time

    import numpy as np

    from search_engines_spark.pipeline.similarity import (
        ivfpq_topk_indexed, write_ivfpq_index)
    from search_engines_spark.streaming.ann import start_ann_stream

    rs = np.random.RandomState(21)
    centers = rs.randn(4, 16) * 4
    rows = [(i, [float(x) for x in centers[i % 4] + rs.randn(16) * 0.1])
            for i in range(80)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    src = str(tmp_path_factory.mktemp("annstream_src"))
    emb.where("vec_id < 50").coalesce(1).write.mode("overwrite") \
        .parquet(src + "/stage_a")
    emb.where("vec_id >= 50").coalesce(1).write.mode("overwrite") \
        .parquet(src + "/stage_b")
    now = time.time()
    for stage, name, age in ((src + "/stage_a", "a_first.parquet", 100),
                             (src + "/stage_b", "z_later.parquet", 0)):
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        os.rename(os.path.join(stage, part), os.path.join(src, name))
        os.utime(os.path.join(src, name), (now - age, now - age))
    idx = str(tmp_path_factory.mktemp("annstream_idx"))
    ckpt = str(tmp_path_factory.mktemp("annstream_ckpt"))
    q = start_ann_stream(spark, src, idx, ckpt, n_cells=4, m=4, k_codes=8,
                         max_files_per_trigger=1)
    q.awaitTermination(120)
    qvec = rows[2][1]
    streamed = [(r["vec_id"], r["dist_r"]) for r in ivfpq_topk_indexed(
        spark, idx, qvec, k=15, nprobe=2).collect()]
    # vectors from BOTH batches are reachable
    assert any(v >= 50 for v, _ in streamed)
    batch_idx = str(tmp_path_factory.mktemp("annbatch_idx"))
    write_ivfpq_index(emb, batch_idx, n_cells=4, m=4, k_codes=8)
    batch = [(r["vec_id"], r["dist_r"]) for r in ivfpq_topk_indexed(
        spark, batch_idx, qvec, k=15, nprobe=2).collect()]
    assert streamed == batch
    # restart on the same checkpoint: no new input → nothing replays;
    # results unchanged
    q2 = start_ann_stream(spark, src, idx, ckpt, n_cells=4, m=4,
                          k_codes=8, max_files_per_trigger=1)
    q2.awaitTermination(120)
    again = [(r["vec_id"], r["dist_r"]) for r in ivfpq_topk_indexed(
        spark, idx, qvec, k=15, nprobe=2).collect()]
    assert again == streamed
