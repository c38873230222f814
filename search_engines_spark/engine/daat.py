"""Document-at-a-time BM25 top-k over compressed segments with block-max
pruning (the north-star WAND path).

The set-at-a-time `Engine` (compile.py) is the semantics reference; this
module is the throughput path for bag-of-words BM25 top-k. One kernel,
`bm25_wand_topk_many`, scores a batch of queries
(`Engine.search_daat_many`; a single query is a batch of one): it reads
the varbyte segment blocks (indexer.segments) for the union of the
query terms only — bucket directory pruning + parquet min/max on
`term` — and scores inside one `applyInPandas` pass per doc-range
partition:

1. each block is assigned to the pk partition groups (runs of
   STRIDES_PER_PART doc-range strides) it overlaps: dense and
   mid-frequency blocks ship whole to their 1-2 pks; a sparse block
   spanning >2 pks is SPLIT map-side into per-pk sub-blocks with
   re-encoded streams and tightened metadata (`_blocks_by_pk`), so
   shuffle bytes are bounded by the postings themselves — never
   duplicated per overlapped stride (at 10^9 docs the old per-stride
   explode shipped a rare term's block ~n_strides times);
2. partitions own contiguous runs of strides, so every doc's postings
   for all query terms co-locate in one partition — per-doc score sums
   are complete with NO shuffle of decoded postings;
3. inside a partition, strides are processed in doc order.  For each
   stride and query, the WAND-style upper bound
        Σ_t idf_t · max_tf_t / (max_tf_t + k1·(1−b+b·min_doclen_t/avg))
   (monotone bound: tf/(tf+c) increases in tf, decreases in doclen;
   `QrySopScore.java:90-120` formula) is compared against that query's
   running top-k threshold θ; a stride no query can improve is SKIPPED
   WITHOUT DECODING — the block-max skip.  Surviving strides are
   varbyte-decoded once (numpy), the per-posting weights are shared by
   every query that holds the term, and each θ is updated from its heap;
4. per-partition top-k per query; `rank_topk`'s per-qid `row_number`
   window ranks those survivors (score desc / doc_id asc).  Over a
   one-pk-group store the kernel's single partition satisfies the
   window, which then needs no exchange of its own; over more groups
   the window costs one exchange, a single query included.  The
   reference tie-break is EXTERNAL id asc (`ScoreList.java:87-114`);
   these coincide whenever internal ids are assigned in external-id
   order (true for the `documents` corpus and any corpus ingested via
   `assign_dense_ids` on the ext-id key).  When they differ, re-sort
   the k returned rows by ext_id after joining `docs` — k rows, free.

The driver plans the kernel's input from SQL strings: the segment
reader's bucket and term filter (`indexer.segments.read_segments`), the
block projection and pk explode, the tombstone pk and the rank window
are each one expression string, so planning a query file costs a
number of Py4J round trips fixed by the plan's shape, not one per
term. The tombstone mask is read as is: a doc deleted twice simply
appears twice in its cogroup side, which `np.isin` ignores.

Rank-identity vs `Engine.search` is the test gate
(tests/test_segments_daat.py); the pruning only ever skips strides whose
bound is strictly below θ, so results are exact, not approximate.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..indexer.codec import varbyte_decode, varbyte_encode
from ..literals import local_frame, sql_in, str_lit
from ..oracle import Models

STRIDE = 4096  # docs per stride; pruning granularity
# Strides per `applyInPandas` scoring group (pk): a fixed width, so the
# group count scales with DATA (n_strides / width), not with the
# cluster. At production corpus sizes (10^9+ docs) that is orders of
# magnitude more groups than slots, so the stage is never slot-starved
# where it matters. An adaptive width that narrowed groups to ~2 per
# slot on small corpora was measured SLOWER at 32 cores on the 500k-doc
# bench (5.77 s @ 8 → 7.45 s @ 32, vs 5.03 → 4.79 s fixed;
# BENCH/BASELINE.md): narrower groups duplicate varbyte block decode
# across groups, give the block-max θ fewer strides to build up over,
# and add no DRAM bandwidth to a bandwidth-bound kernel. That r4
# measurement predates the explicit kernel exchange width in
# `_apply_with_tombstones` (the stage was then AQE-coalesced to a few
# tasks, so both variants ran nearly serial); the argument is about
# decode duplication and θ quality, which the exchange width does not
# change. Exactness never depends on the grouping.
STRIDES_PER_PART = 8

_BLOCK_COLS = ("term", "min_docid", "max_docid", "max_tf", "min_doclen",
               "docids_vb", "tfs_vb", "doclens_vb")
_BLOCK_SCHEMA_PK = ("term string, min_docid long, max_docid long, "
                    "max_tf int, min_doclen long, docids_vb binary, "
                    "tfs_vb binary, doclens_vb binary, pk long")


def _split_wide_kernel(span: int):
    """mapInPandas kernel: split blocks spanning >2 pk groups into
    per-pk sub-blocks — decode once map-side, cut at pk boundaries,
    re-encode each run (delta-from-0 docids + plain varbyte tf/doclen,
    the block codec's exact layout) with TIGHTENED per-sub-block
    metadata (its own max_tf / min_doclen — a better block-max bound
    for the strides it actually covers). Emits one row per pk that
    CONTAINS a posting: a df=128 term yields ≤128 sub-blocks no matter
    the corpus size, where the span explode would have emitted
    n_strides copies."""

    def kern(batches):
        for pdf in batches:
            if pdf is None or len(pdf) == 0:
                continue
            out: dict[str, list] = {c: [] for c in _BLOCK_COLS}
            out["pk"] = []
            for row in pdf.itertuples(index=False):
                ids = np.cumsum(varbyte_decode(bytes(row.docids_vb)))
                tfs = varbyte_decode(bytes(row.tfs_vb))
                dls = varbyte_decode(bytes(row.doclens_vb))
                pks = ids // span            # nondecreasing (ids sorted)
                cut = np.flatnonzero(np.diff(pks)) + 1
                for sub_i, sub_t, sub_d in zip(np.split(ids, cut),
                                               np.split(tfs, cut),
                                               np.split(dls, cut)):
                    out["term"].append(row.term)
                    out["min_docid"].append(int(sub_i[0]))
                    out["max_docid"].append(int(sub_i[-1]))
                    out["max_tf"].append(int(sub_t.max()))
                    out["min_doclen"].append(int(sub_d.min()))
                    out["docids_vb"].append(
                        varbyte_encode(np.diff(sub_i, prepend=0)))
                    out["tfs_vb"].append(varbyte_encode(sub_t))
                    out["doclens_vb"].append(varbyte_encode(sub_d))
                    out["pk"].append(int(sub_i[0]) // span)
            if out["term"]:
                yield pd.DataFrame(out)

    return kern


def _blocks_by_pk(segments: DataFrame, terms: list[str], field: str,
                  stride: int, n_docs: int = 0) -> DataFrame:
    """Blocks of the queried terms, one row per (block, pk) with NO
    corpus-size-dependent duplication.

    The r1-r4 shape exploded each block over every STRIDE its
    [min_docid, max_docid] span overlaps. Fine for dense blocks (span
    ≈ 1 stride), quadratically wrong for sparse ones: a rare term's
    single ≤128-posting block legitimately spans the whole docid range,
    so at 10^9 docs its bytes rode the exchange n_strides ≈ 244k times
    (~190 MB per rare term per query batch). Now:

    * blocks spanning ≤2 pk groups (the overwhelming majority — dense
      and mid-frequency runs) ship whole, once per overlapped pk;
    * wider blocks are SPLIT map-side into per-pk sub-blocks
      (`_split_wide_kernel`) — shuffle bytes bounded by the postings
      themselves, one row per pk that actually contains a posting.

    The scoring kernel derives stride membership inside the task from
    block [min,max] metadata (strides of its own pk only, so a 2-pk
    narrow block is scored exactly once per posting globally)."""
    span = stride * STRIDES_PER_PART
    pk0 = f"CAST(min_docid / {span} AS BIGINT)"
    pk1 = f"CAST(max_docid / {span} AS BIGINT)"
    base = segments.where(f"field = {str_lit(field)} AND "
                          f"{sql_in('term', terms)}")
    explode = f"explode(sequence({pk0}, {pk1})) AS pk"
    if n_docs and n_docs <= 3 * span:
        # ≤3 pk groups exist in the whole corpus → no block can span
        # >2 pks... except one touching pks {0,1,2}; route everything
        # through the narrow explode (≤3 copies, bounded) and skip the
        # wide branch's extra scan+Arrow stage — at interactive corpus
        # sizes that stage is pure scheduler-floor cost on every batch
        return base.selectExpr(*_BLOCK_COLS, explode)
    narrow = (base.where(f"{pk1} - {pk0} <= 1")
              .selectExpr(*_BLOCK_COLS, explode))
    wide = (base.where(f"{pk1} - {pk0} > 1")
            .select(*_BLOCK_COLS)
            .mapInPandas(_split_wide_kernel(span),
                         schema=_BLOCK_SCHEMA_PK))
    return narrow.unionByName(wide)


def _apply_with_tombstones(blocks: DataFrame, deleted, stride: int,
                           score_fn, schema: str,
                           n_docs: int) -> DataFrame:
    """Run `score_fn(blocks_pdf, deleted_ids | None)` per `pk` partition
    group. With a tombstone mask, the mask rows are COGROUPED on the
    same doc-stride `pk` the blocks shuffle on — each task sees only
    the deleted ids that can appear in its own strides, nothing rides
    the closure, and an empty group costs nothing."""
    # The kernel-input shuffle width is EXPLICIT, the
    # batch_structured.py precedent: a bare groupBy("pk") exchange is
    # AQE-coalescible, and the session's size-first policy
    # (parallelismFirst=false — right for KB-scale interactive
    # shuffles) folds the compressed block bytes of a whole query
    # batch under the advisory partition size, collapsing the
    # decode+score stage to a handful of tasks (measured: ONE task at
    # 32 cores on a 500k-doc store — the entire ~19 s "fixed" decode
    # cost of the r4 weak-scaling arm ran serially at every core
    # count). Hash-repartitioning on pk satisfies the
    # ClusteredDistribution the Arrow kernel needs (no second
    # exchange) and AQE never coalesces an explicit width, so decode
    # parallelism tracks cores, not an advisory byte threshold.
    # Width 8 × cores, not the zipper's 2×: pk groups are FEW at
    # moderate corpus sizes (61 at 2M docs) and equal-weight, so
    # hash-bin collisions turn directly into stragglers — 8× bins make
    # a group ~alone in its task (measured on the 2M store, 48q@32c:
    # 5.39 s at 2× → 4.48 s at 8×; neutral at 8 cores, and at
    # production group counts ≫ bins the multiplier is irrelevant).
    # One group (G = ⌈n_docs / (stride·STRIDES_PER_PART)⌉ = 1)
    # gets ONE partition: the exchange plans as SinglePartition, which
    # also satisfies a per-qid rank window above the kernel
    # (`rank_topk`), which then runs with no exchange of its own. G
    # assumes dense doc ids; exactness never depends on the width, only
    # the task shape does.
    n_groups = -(-max(n_docs, 1) // (stride * STRIDES_PER_PART))
    cores = blocks.sparkSession.sparkContext.defaultParallelism
    n_part = 1 if n_groups == 1 else 8 * cores
    blocks = blocks.repartition(n_part, "pk")
    if deleted is None:
        return (blocks.groupBy("pk")
                .applyInPandas(lambda key, g: score_fn(g, None,
                                                       int(key[0])),
                               schema=schema))
    tomb = (deleted
            .selectExpr(f"CAST(CAST(doc_id / {stride} AS BIGINT) / "
                        f"{STRIDES_PER_PART} AS BIGINT) AS pk", "doc_id")
            .repartition(n_part, "pk"))

    def run(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        dels = (np.sort(right["doc_id"].to_numpy(np.int64))
                if len(right) else None)
        return score_fn(left, dels, int(key[0]))

    return (blocks.groupBy("pk").cogroup(tomb.groupBy("pk"))
            .applyInPandas(run, schema=schema))


def bm25_wand_topk_many(segments: DataFrame,
                        queries: dict[str, dict[str, int]],
                        term_stats: dict[str, tuple[int, int]],
                        n_docs: int, avglen: float, k: int = 100,
                        params: Models | None = None,
                        field: str = "body",
                        stride: int = STRIDE,
                        prune_counter=None,
                        deleted=None) -> DataFrame:
    """→ (qid, doc_id, score): each pk partition's top-k per query for
    a batch of bag-of-words BM25 queries over ONE segments pass, score
    desc / doc_id asc within a partition. Every query's global top-k is
    among these rows; `rank_topk` (or a sort plus limit for one query)
    picks it.

    queries: {qid: {term: multiplicity}} — a term repeated q times in
    the bag contributes q identical #SCORE arms (`QrySopSum.java:39-53`),
    folded into its per-query idf weight. The batch shape mirrors the
    set-at-a-time one-pass plan (`Engine.search_many`) on the compressed
    store: blocks for the UNION of all query terms are read once, each
    surviving block is varbyte-decoded ONCE and its per-posting BM25
    weight computed once, then every query that contains the term folds
    the shared weights into its own accumulator — cost is one postings
    pass regardless of query count (the reference loops queries
    one-by-one, `QryEval.java:649-764`). Block-max pruning stays
    per-query: a stride is skipped for the queries it cannot improve
    while still decoding for the rest.
    term_stats: {term: (df, ctf)} — collected once, driver-side (tiny).
    stride: docs per pruning unit (tunable so small corpora still
    exercise the skip path; production default STRIDE).
    prune_counter: optional `sc.accumulator(0)` — incremented once per
    stride that no query needs, i.e. skipped WITHOUT decoding
    (accumulator updates flow back from the Arrow workers).
    deleted: optional tombstone mask, a `doc_id` DataFrame such as
    `indexer.merge.deleted_docs_df` (a file read or a local relation; a
    mask over a Python RDD makes Spark re-shuffle both cogroup sides
    at the default width): docs are masked out after decode, before
    scoring, so a deleted doc can never occupy a top-k slot; stats stay
    full-corpus until a purging merge, matching Lucene's
    docFreq-includes-deletes semantics. The mask is COGROUPED with the
    blocks on the doc-stride partition key — each task receives only
    its own strides' tombstones, so the mask never rides a UDF closure
    and a delete-heavy store stays scale-safe.
    """
    p = params or Models()
    idf_q: dict[str, dict[str, float]] = {}
    for qid, bag in queries.items():
        idf_q[qid] = {}
        for t, mult in bag.items():
            if t in term_stats:
                df_, _ = term_stats[t]
                idf_q[qid][t] = max(0.0, math.log(
                    (n_docs - df_ + 0.5) / (df_ + 0.5))) * mult
    terms = sorted({t for m in idf_q.values() for t in m})
    spark = segments.sparkSession
    if not terms:
        return local_frame(spark, [],
                           "qid string, doc_id long, score double")
    k1, b = p.k1, p.b
    spp = STRIDES_PER_PART
    blocks = _blocks_by_pk(segments, terms, field, stride, n_docs)

    def score_partition(pdf: pd.DataFrame,
                        deleted_b: np.ndarray | None,
                        pk: int) -> pd.DataFrame:
        empty = pd.DataFrame({"qid": pd.Series(dtype="object"),
                              "doc_id": pd.Series(dtype="int64"),
                              "score": pd.Series(dtype="float64")})
        if pdf is None or len(pdf) == 0:
            return empty
        mins = pdf["min_docid"].to_numpy(np.int64)
        maxs = pdf["max_docid"].to_numpy(np.int64)
        terms_a = pdf["term"].to_numpy(object)
        mtf_a = pdf["max_tf"].to_numpy(np.float64)
        mdl_a = pdf["min_doclen"].to_numpy(np.float64)
        vb_i = pdf["docids_vb"].to_numpy(object)
        vb_t = pdf["tfs_vb"].to_numpy(object)
        vb_d = pdf["doclens_vb"].to_numpy(object)
        tfw_a = mtf_a / (mtf_a + k1 * (1 - b + b * mdl_a / avglen))
        cache: dict[int, tuple] = {}

        def decode(i: int):
            c = cache.get(i)
            if c is None:
                ids = np.cumsum(varbyte_decode(bytes(vb_i[i])))
                tfs = varbyte_decode(bytes(vb_t[i])).astype(np.float64)
                dls = varbyte_decode(bytes(vb_d[i])).astype(np.float64)
                w = tfs / (tfs + k1 * (1 - b + b * dls / avglen))
                cache[i] = c = (ids, w)
            return c

        state = {q: {"theta": -1.0,
                     "ids": np.empty(0, np.int64),
                     "sc": np.empty(0, np.float64)} for q in idf_q}
        for s in range(pk * spp, (pk + 1) * spp):
            lo, hi = s * stride, (s + 1) * stride
            sel = np.flatnonzero((mins < hi) & (maxs >= lo))
            if sel.size == 0:
                continue
            # per-term block-max tf-weight bound, shared by all queries
            tb: dict[str, float] = {}
            for i in sel:
                t = terms_a[i]
                if tfw_a[i] > tb.get(t, 0.0):
                    tb[t] = tfw_a[i]
            # a query needs the stride unless its bound is strictly
            # below its θ (a stride tying θ may still win the doc-id
            # tie-break, `ScoreList.java:90-97`)
            live = [q for q, st_ in state.items()
                    if any(t in tb for t in idf_q[q])
                    and (len(st_["ids"]) < k
                         or sum(w * tb[t] for t, w in idf_q[q].items()
                                if t in tb) >= st_["theta"])]
            if not live:
                if prune_counter is not None:
                    prune_counter.add(1)
                continue
            # slice each block's task-cached decode; share across queries
            dec: dict[str, tuple[np.ndarray, np.ndarray]] = {}
            for i in sel:
                ids, w = decode(i)
                a = int(np.searchsorted(ids, lo, side="left"))
                z = int(np.searchsorted(ids, hi, side="left"))
                if a == z:
                    continue
                sids, sw = ids[a:z], w[a:z]
                if deleted_b is not None:
                    keep = ~np.isin(sids, deleted_b)
                    if not keep.any():
                        continue
                    sids, sw = sids[keep], sw[keep]
                t = terms_a[i]
                prev = dec.get(t)
                dec[t] = ((np.concatenate([prev[0], sids]),
                           np.concatenate([prev[1], sw]))
                          if prev else (sids, sw))
            if not dec:
                continue
            for q in live:
                ids_all = [dec[t][0] for t in idf_q[q] if t in dec]
                if not ids_all:
                    continue
                sc_all = [dec[t][1] * idf_q[q][t] for t in idf_q[q]
                          if t in dec]
                ids_c = np.concatenate(ids_all)
                sc_c = np.concatenate(sc_all)
                uids, inv = np.unique(ids_c, return_inverse=True)
                sums = np.zeros(len(uids), np.float64)
                np.add.at(sums, inv, sc_c)
                st_ = state[q]
                st_["ids"] = np.concatenate([st_["ids"], uids])
                st_["sc"] = np.concatenate([st_["sc"], sums])
                if len(st_["ids"]) > k:
                    order = np.lexsort((st_["ids"], -st_["sc"]))[:k]
                    st_["ids"] = st_["ids"][order]
                    st_["sc"] = st_["sc"][order]
                    st_["theta"] = float(st_["sc"].min())
        frames = [pd.DataFrame({"qid": q, "doc_id": st_["ids"],
                                "score": st_["sc"]})
                  for q, st_ in state.items() if len(st_["ids"])]
        return pd.concat(frames, ignore_index=True) if frames else empty

    return _apply_with_tombstones(
        blocks, deleted, stride, score_partition,
        "qid string, doc_id long, score double", n_docs)


def rank_topk(top: DataFrame, k: int) -> DataFrame:
    """(qid, doc_id, score) kernel survivors → the same columns plus
    `rank` ≤ k per qid, by score desc / doc_id asc: one per-qid
    `row_number` window."""
    return (top.selectExpr("*", "row_number() OVER (PARTITION BY qid "
                                "ORDER BY score DESC, doc_id ASC) AS rank")
            .where(f"rank <= {int(k)}"))
