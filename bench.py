#!/usr/bin/env python
"""Benchmark harness — one JSON line to stdout.

Builds the inverted index over `$SPARK_GRAFT_SF_DIR/documents.parquet`
(default sf0.1) on local[$SPARK_GRAFT_CPUS], then runs the headline query
set (BM25 bag-of-words, SDM structured NEAR/WINDOW, Boolean, Indri
weighted, dedup MinHash+LSH, SimHash, ANN cosine top-k) and reports:

  value          total wall seconds (build + all queries)
  value_core     build + the FROZEN r01 arm set — comparable across
                 rounds (`value` grows as the measured set grows)
  queries        per-query seconds
  build_sec      index build+materialize seconds
  files_per_sec  index-build throughput (BASELINE.json metric)
  query_p50_sec  median retrieval-query latency

Scaling-efficiency evidence (same job at two parallelism levels) is
produced by `tools/scaling_bench.py` → BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from search_engines_spark.engine.compile import Engine  # noqa: E402
from search_engines_spark.indexer.build import index_documents_table  # noqa: E402
from search_engines_spark.pipeline import dedup as dd  # noqa: E402
from search_engines_spark.pipeline import similarity as sim  # noqa: E402
from search_engines_spark.session import get_spark  # noqa: E402

RETRIEVAL = {
    "bm25_bow3": ("bm25", "spark stream join"),
    "bm25_bow5": ("bm25", "hash merge batch window table"),
    "bm25_sdm": ("bm25",
                 "#sum( #near/2( spark stream ) #window/5( join merge ) spark )"),
    "bm25_syn": ("bm25", "#sum( #syn( spark stream ) join )"),
    "bool_and": ("rankedboolean", "#and( big join )"),
    "indri_and": ("indri", "#and( spark stream join )"),
    "indri_wand": ("indri", "#wand( 0.6 merge 0.4 batch )"),
}

# distinct bag-of-words queries for the batched-DAAT arm (the compressed
# store handles bow #SUM; structured operators go through search_many)
# FROZEN at the r01 measured set — value_core sums these arms + build so
# the headline stays comparable across rounds while `value` tracks the
# (growing) full set. Do not add arms here; new arms join `value` only.
CORE_ARMS = (
    "bm25_bow3", "bm25_bow5", "bm25_sdm", "bm25_syn", "bool_and",
    "indri_and", "indri_wand",
    "batch_bm25_per_query", "daat_wand_topk",
    "dedup_minhash_lsh", "dedup_simhash", "ann_cosine_topk",
)

DAAT_BATCH = {
    "d1": "spark stream join",
    "d2": "hash merge batch window table",
    "d3": "dup line small",
    "d4": "data column filter",
    "d5": "merge sort shuffle",
    "d6": "table scan filter read",
    "d7": "write read commit",
    "d8": "spark merge table",
}


def _run_sf1_block(spark, sf_dir: str) -> dict:
    """sf1.0-scale measurement: the sf corpus deterministically
    replicated ×10 with remapped doc_ids (the scaling_bench `replicate`
    precedent — no external data), same arms as the headline set for
    the bow/batch/DAAT paths. Purpose: per-query cost must grow
    SUBLINEARLY vs the 10× corpus — at sf0.1 (5k docs) the scheduler
    floor dominates per-query numbers, so this is the first
    data-dominated per-query datum in the bench output. Timed OUTSIDE
    `value` (it is a scaling datum, not part of the headline wall).

    CROSS-ROUND CONTRACT (frozen r4): the emitted key set —
    build_sec / files_per_sec / segment_build_sec and queries
    {bm25_bow3, bm25_sdm, bool_and, indri_and, batch_bm25_per_query,
    daat_batch_per_query} — is frozen so BENCH_r{N}.sf1 compares
    key-by-key against BENCH_r{N-1}.sf1 in each round's docs/ROUND
    note (the sublinearity re-check). Add new arms under new keys;
    never rename or retime these."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from search_engines_spark.indexer.build import (
        build_index_frames, docs_from_documents_table,
        documents_extid_fmt)
    from search_engines_spark.indexer.segments import build_segments

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n0 = docs.count()
    big = (spark.range(10).crossJoin(docs)
           .withColumn("doc_id", F.col("doc_id") + F.col("id") * n0)
           .drop("id").persist())
    n_docs = big.count()
    out: dict = {"n_docs": n_docs, "replication": 10}
    t0 = time.time()
    idx = build_index_frames(docs_from_documents_table(big),
                             builder="arrow",
                             extid_docid_fmt=documents_extid_fmt(big))
    idx.postings.count()
    out["build_sec"] = round(time.time() - t0, 3)
    out["files_per_sec"] = round(n_docs / out["build_sec"], 1)

    q: dict = {}
    for name in ("bm25_bow3", "bm25_sdm", "bool_and", "indri_and"):
        model, qs = RETRIEVAL[name]
        eng = Engine(idx, model)
        times = []
        for _ in range(3):
            t0 = time.time()
            eng.search(qs, k=100).collect()
            times.append(time.time() - t0)
        q[name] = round(min(times[1:]), 3)

    eng = Engine(idx, "bm25")
    batch = {f"b{i}": s for i, (m, s) in enumerate(RETRIEVAL.values())
             if m == "bm25"}
    times = []
    for _ in range(2):
        t0 = time.time()
        eng.search_many(batch, k=100).collect()
        times.append(time.time() - t0)
    q["batch_bm25_per_query"] = round(min(times) / len(batch), 3)

    seg_dir = tempfile.mkdtemp(prefix="bench_sf1_segs_")
    try:
        t0 = time.time()
        build_segments(idx.postings, idx.doclens, seg_dir,
                       num_buckets=32, chunk=32)
        out["segment_build_sec"] = round(time.time() - t0, 3)
        eng.attach_segments(seg_dir, num_buckets=32)
        times = []
        for _ in range(2):
            t0 = time.time()
            eng.search_daat_many(DAAT_BATCH, k=100).collect()
            times.append(time.time() - t0)
        q["daat_batch_per_query"] = round(min(times) / len(DAAT_BATCH), 3)
    finally:
        shutil.rmtree(seg_dir, ignore_errors=True)
    big.unpersist()
    for frame in (idx.postings, idx.doclens):
        try:
            frame.unpersist()
        except Exception:
            pass
    out["queries"] = q
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = get_spark("bench", cores=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # warm the Python/Arrow worker pool once (first pandas-UDF stage in a
    # session pays ~5-10s of interpreter+pandas import across all cores;
    # steady-state latency is what the metric should reflect)
    spark.range(cpus).repartition(cpus).mapInPandas(
        lambda it: it, schema="id long").count()

    t_total = time.time()
    t0 = time.time()
    # arrow builder: the zero-shuffle doc-local kernel that is the
    # at-scale default (see BENCH/BASELINE.md for jvm-vs-arrow numbers)
    idx = index_documents_table(spark, sf_dir, builder="arrow")
    # force full materialization of the persisted postings + doclens
    n_postings = idx.postings.count()
    build_s = time.time() - t0
    n_docs = idx.stats_for("body")["n_docs"]

    queries: dict[str, float] = {}
    for name, (model, q) in RETRIEVAL.items():
        eng = Engine(idx, model)
        times = []
        for _ in range(3):   # 1 cold + 2 warm; report min-of-warm (the
            t0 = time.time()  # sandbox shares cores — min filters noise)
            eng.search(q, k=100).collect()
            times.append(time.time() - t0)
        queries[name] = round(min(times[1:]), 3)
        queries[f"{name}_cold"] = round(times[0], 3)

    # batch mode: the reference loops queries one-by-one
    # (`QryEval.java:684`); search_many compiles ALL queries into one
    # Catalyst plan — per-query amortized latency is the engine's
    # intended operating point for query files
    eng = Engine(idx, "bm25")
    batch = {f"b{i}": q for i, (m, q) in enumerate(RETRIEVAL.values())
             if m == "bm25"}
    t0 = time.time()
    eng.search_many(batch, k=100).collect()
    queries["batch_bm25_per_query"] = round((time.time() - t0) / len(batch), 3)

    # flat-Indri one-pass batch (compile._indri_batch_frame): default
    # scores collapsed to a closed-form doclen column — one postings
    # pass for the whole query file, vs one outer-join chain per query
    ibatch = {"i1": "spark stream join",
              "i2": "#wsum( 0.5 spark 0.3 stream 0.2 join )",
              "i3": "#wand( 0.6 merge 0.4 batch )",
              "i4": "data table",
              "i5": "merge sort shuffle",
              "i6": "#and( table scan filter )"}
    eng_i = Engine(idx, "indri")
    times = []
    for _ in range(2):
        t0 = time.time()
        eng_i.search_many(ibatch, k=100).collect()
        times.append(time.time() - t0)
    queries["batch_indri_per_query"] = round(min(times) / len(ibatch), 3)

    # compressed-segment build + block-max DAAT top-k (the north-star
    # WAND path over varbyte blocks)
    import shutil
    import tempfile
    from search_engines_spark.engine.daat import (
        bm25_wand_topk_many, rank_topk)
    from search_engines_spark.indexer.segments import (
        build_segments, read_segments)
    seg_dir = tempfile.mkdtemp(prefix="bench_segs_")
    try:
        t0 = time.time()
        build_segments(idx.postings, idx.doclens, seg_dir, num_buckets=32,
                       chunk=32)
        seg_build = time.time() - t0
        terms = ["dup", "spark", "stream"]
        stats = {r["term"]: (r["df"], r["ctf"]) for r in
                 idx.term_stats.where(idx.term_stats.term.isin(terms))
                 .collect()}
        st = idx.stats_for("body")
        times = []
        for _ in range(2):
            t0 = time.time()
            segs = read_segments(spark, seg_dir, terms=terms, num_buckets=32)
            rank_topk(bm25_wand_topk_many(
                segs, {"q": dict.fromkeys(terms, 1)}, stats, st["n_docs"],
                st["sum_len"] / st["doc_count"], k=100), 100).collect()
            times.append(time.time() - t0)
        queries["daat_wand_topk"] = round(min(times), 3)

        # batched DAAT: the whole bow query file in ONE segments pass
        # (shared block decode, per-query block-max pruning) — the
        # compressed-store analog of batch_bm25_per_query
        eng = Engine(idx, "bm25")
        eng.attach_segments(seg_dir, num_buckets=32)
        times = []
        for _ in range(2):
            t0 = time.time()
            eng.search_daat_many(DAAT_BATCH, k=100).collect()
            times.append(time.time() - t0)
        queries["daat_batch_per_query"] = round(min(times) / len(DAAT_BATCH),
                                                3)

        # full structured language off the compressed store: one
        # bucket-pruned scan + ONE batch-vectorized block decode for the
        # union of the batch's terms (segments.decode_blocks_batch),
        # then the one-plan search_many paths
        sbatch = {"s1": "#near/2( spark stream )",
                  "s2": "#window/5( join merge )",
                  "s3": "spark stream join",
                  "s4": "#syn( merge batch )"}
        times = []
        for _ in range(2):
            t0 = time.time()
            eng.search_segments_many(sbatch, k=100).collect()
            times.append(time.time() - t0)
        queries["segments_structured_per_query"] = round(
            min(times) / len(sbatch), 3)
    finally:
        shutil.rmtree(seg_dir, ignore_errors=True)

    # segment lifecycle (indexer.merge): base build over 90% of docs,
    # the newest 10% committed as a delta generation, then compaction —
    # the steady-state incremental-ingest path; commit cost must track
    # delta size, not corpus size
    from pyspark.sql import functions as F
    from search_engines_spark.indexer.merge import (append_segments,
                                                    compact_segments)
    merge_dir = tempfile.mkdtemp(prefix="bench_merge_")
    try:
        cut = int(n_docs * 0.9)
        build_segments(idx.postings.where(F.col("doc_id") < cut),
                       idx.doclens, merge_dir, num_buckets=32, chunk=32)
        t0 = time.time()
        append_segments(idx.postings.where(F.col("doc_id") >= cut),
                        merge_dir, num_buckets=32)
        append_s = time.time() - t0
        t0 = time.time()
        compact_segments(spark, merge_dir, num_buckets=32, chunk=32)
        compact_s = time.time() - t0
    finally:
        shutil.rmtree(merge_dir, ignore_errors=True)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    t0 = time.time()
    dd.minhash_dedup_pairs(docs).count()
    queries["dedup_minhash_lsh"] = round(time.time() - t0, 3)

    t0 = time.time()
    dd.simhash(docs).count()
    queries["dedup_simhash"] = round(time.time() - t0, 3)

    # span-level exact substring dedup (Lee et al. 2021): gram-count
    # agg + semi-join + gaps-and-islands merge in one plan
    t0 = time.time()
    dd.duplicate_spans(docs).count()
    queries["dedup_substring_spans"] = round(time.time() - t0, 3)

    t0 = time.time()
    qvec = [float(x) for x in emb.where("vec_id = 0")
            .select("embedding").collect()[0]["embedding"]]
    sim.cosine_topk(emb, qvec, k=20).collect()
    queries["ann_cosine_topk"] = round(time.time() - t0, 3)

    # incremental ANN lifecycle: base layout on 90% of the vectors, then
    # a timed O(|delta|) append of the rest + a merged partition-pruned
    # query — the continuous-arrival path at 10^9 vectors (a full
    # rewrite per batch is O(corpus); ann_index_build is that yardstick)
    ann_dir = tempfile.mkdtemp(prefix="bench_ann_")
    try:
        t0 = time.time()
        sim.write_ann_index(emb.where("vec_id % 10 != 0"), ann_dir)
        queries["ann_index_build"] = round(time.time() - t0, 3)
        t0 = time.time()
        sim.append_ann_index(emb.where("vec_id % 10 = 0"), ann_dir)
        queries["ann_append_delta"] = round(time.time() - t0, 3)
        t0 = time.time()
        sim.lsh_ann_indexed(spark, ann_dir, qvec, k=20).collect()
        queries["ann_query_merged"] = round(time.time() - t0, 3)
    finally:
        shutil.rmtree(ann_dir, ignore_errors=True)

    # iterative graph centrality: 6 PageRank power iterations over a
    # 3-out-degree-max graph on the corpus ids (one src-layout join +
    # one dst-keyed agg per iteration)
    from search_engines_spark.pipeline.graph import pagerank
    t0 = time.time()
    ids = docs.select(F.col("doc_id").alias("node"))
    edges = (ids.select(F.col("node").alias("src"),
                        ((F.col("node") + 1) % n_docs).alias("dst"))
             .union(ids.select(F.col("node").alias("src"),
                               ((F.col("node") + 37) % n_docs).alias("dst")))
             .union(ids.where(F.col("node") % 5 == 0)
                    .select(F.col("node").alias("src"),
                            ((F.col("node") * 3 + 11) % n_docs)
                            .alias("dst"))))
    pagerank(edges, n_iter=6, nodes=ids).count()
    queries["graph_pagerank_6iter"] = round(time.time() - t0, 3)

    # result serving: query-biased snippets for a top-10 page (one
    # broadcast of the result list + one codegen projection)
    from search_engines_spark.capabilities import serving
    res = Engine(idx, "bm25").search("spark stream join", k=10)
    t0 = time.time()
    serving.snippets(res, idx.docs, ["spark", "stream", "join"]).collect()
    queries["snippets_top10"] = round(time.time() - t0, 3)

    total = time.time() - t_total

    # ---- sf1.0 block (outside `value`): default-on at the driver's
    # sf0.1; disable with SPARK_GRAFT_SF1=0, force elsewhere with =1
    sf1 = None
    if os.environ.get("SPARK_GRAFT_SF1",
                      "1" if sf == "0.1" else "0") == "1":
        sf1 = _run_sf1_block(spark, sf_dir)

    retrieval_times = [queries[k] for k in RETRIEVAL]  # warm latencies
    print(json.dumps({
        "metric": "index_build_plus_headline_queries_wall",
        "value": round(total, 3),
        "value_core": round(build_s + sum(queries[k] for k in CORE_ARMS),
                            3),
        "unit": "sec",
        "queries": queries,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "build_sec": round(build_s, 3),
        "segment_build_sec": round(seg_build, 3),
        "segment_append_sec": round(append_s, 3),
        "segment_compact_sec": round(compact_s, 3),
        "files_per_sec": round(n_docs / build_s, 1),
        "n_docs": n_docs,
        "n_postings": n_postings,
        "query_p50_sec": round(statistics.median(retrieval_times), 3),
        "cpus": cpus,
        **({"sf1": sf1} if sf1 else {}),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
