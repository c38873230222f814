"""Compressed posting segments + per-partition manifests + resume.

The reference keeps postings as uncompressed `Vector<Integer>` in RAM
(`InvList.java:68`); the north rule requires docID-delta + varbyte
compressed segments with per-block metadata for block-max WAND, built
resumably with per-partition lineage + counters.

Layout: `out_dir/bucket=B/part-*.parquet`, one row per posting BLOCK of
one (term, field) run:

    term, field, bucket, block_seq, n, max_docid, max_tf, min_doclen,
    docids_vb BINARY, tfs_vb BINARY, positions_vb BINARY

* **bucket** = pmod(xxhash64(term), num_buckets) — the unit of work,
  lineage, and resume. Term-partitioned: a query's term filter prunes to
  ≤|terms| buckets (partition pruning on the bucket directory + parquet
  min/max on `term`).
* Within a bucket, postings are sorted (term, doc_id) and chunked into
  ≤BLOCK_SIZE-posting blocks by a `mapInPandas` pass running the numpy
  varbyte codec — Arrow batches in, Arrow batches out, no per-row Python.
* Blocks carry `max_docid` (skip pointer) and `(max_tf, min_doclen)` —
  a monotone upper bound for the BM25 tf-weight (tf/(tf+c) increasing in
  tf, decreasing in doclen) → per-block max-score for WAND pruning.
* **Manifest** `out_dir/_manifest.jsonl`: one line per completed bucket
  with input fingerprint + counters (terms, postings, sum_tf, blocks).
  `build_segments` anti-joins wanted buckets against manifest entries
  whose fingerprint matches, processes only the missing ones (in chunks,
  manifest appended after each chunk) — an interrupted build resumes
  without recomputing completed buckets, and a changed input invalidates
  all entries (fingerprint mismatch).

At 10^12 files this is the shape that works: the bucket count scales the
unit of recovery, hot terms are bounded by BLOCK_SIZE-row blocks, and the
two-phase (local chunk → sorted bucket) write is `repartitionByRange` +
`sortWithinPartitions`, Spark's native large-sort path (spills, no OOM).
"""

from __future__ import annotations

import json
import os
import warnings
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..literals import sql_in, str_lit
from .codec import BLOCK_SIZE, delta_encode, varbyte_decode, varbyte_encode

SEGMENT_SCHEMA = (
    "term string, field string, bucket int, block_seq int, n int, "
    "min_docid long, max_docid long, max_tf int, min_doclen long, "
    "docids_vb binary, tfs_vb binary, positions_vb binary, "
    "doclens_vb binary")


def bucket_of(term: str, num_buckets: int) -> str:
    """The bucket a term's blocks live in, as a SQL expression over the
    SQL operand `term` (a column name or a string literal):
    pmod(xxhash64(term), B)."""
    return f"CAST(pmod(xxhash64({term}), {int(num_buckets)}) AS INT)"


def _vb_nbytes(v: np.ndarray) -> np.ndarray:
    """Varbyte length of each value, vectorized (matches varbyte_encode)."""
    v = np.asarray(v, dtype=np.uint64)
    bl = np.ones(v.size, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nz = tmp > 0
        bl[nz] += 1
        tmp = tmp >> np.uint64(7)
    return bl


def _encode_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched block encoder. Input: (term, field, bucket, doc_id,
    tf, positions, doclen) sorted by (term, field, doc_id) within the
    partition.

    Vectorized ACROSS runs: run/block boundaries, deltas, block-max
    metadata, and varbyte bytes are all computed once per Arrow batch
    with numpy; the only Python loop slices the four encoded buffers at
    precomputed byte offsets, one step per BLOCK. The earlier shape
    (one pandas-groupby step per (term, field, bucket) run) was
    O(#terms) in Python — invisible on a toy vocabulary, but the
    dominant build cost at a realistic one (measured 35.8 s → ~2 s for
    1.9M postings over 96k terms), and vocabulary grows with corpus
    size, so at 10^12 files it WAS the build. Byte output is identical:
    deltas reset at block starts, so per-block encoding of a global
    buffer equals encoding each block separately. A run spanning two
    Arrow batches just emits an extra (smaller) block; block_seq
    numbering continues via the carried `seqs` entry for the one key
    that can span a batch boundary (the partition is (term, doc_id)
    sorted, so only the first run of a batch can continue the last)."""
    seqs: dict[tuple, int] = {}

    for pdf in batches:
        n = len(pdf)
        if n == 0:
            continue
        terms = pdf["term"].to_numpy()
        fields = pdf["field"].to_numpy()
        buckets = pdf["bucket"].to_numpy()
        doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        tfs = pdf["tf"].to_numpy(dtype=np.int64)
        doclens = pdf["doclen"].to_numpy(dtype=np.int64)

        # run boundaries: contiguous (term, field, bucket) groups
        chg = np.ones(n, dtype=bool)
        chg[1:] = ((terms[1:] != terms[:-1]) | (fields[1:] != fields[:-1])
                   | (buckets[1:] != buckets[:-1]))
        run_id = np.cumsum(chg) - 1
        run_starts = np.flatnonzero(chg)
        idx_in_run = np.arange(n) - run_starts[run_id]
        # block boundaries: run change or BLOCK_SIZE fill
        blk_mask = chg | (idx_in_run % BLOCK_SIZE == 0)
        bs = np.flatnonzero(blk_mask)           # block start posting idx
        be = np.append(bs[1:], n)               # block end (exclusive)
        nblk = bs.size
        # block_seq within run; continue numbering if the first run of
        # this batch is the same key as the last run of the previous one
        blk_run = run_id[bs]
        first_blk = np.searchsorted(blk_run, blk_run)
        blk_seq = np.arange(nblk) - first_blk
        key0 = (terms[0], fields[0], int(buckets[0]))
        carry = seqs.get(key0, 0)
        if carry:
            blk_seq[blk_run == 0] += carry
        last_key = (terms[-1], fields[-1], int(buckets[-1]))
        seqs = {last_key: int(blk_seq[-1]) + 1}

        # docid deltas, absolute at block starts (== per-block encoding)
        dd = np.diff(doc_ids, prepend=np.int64(0))
        dd[bs] = doc_ids[bs]
        # per-doc position deltas, doc-start absolute (docs never span
        # blocks, so block boundaries are also doc boundaries)
        pos_lists = pdf["positions"].to_list()
        pos_flat = (np.concatenate(
            [np.asarray(p, dtype=np.int64) for p in pos_lists])
            if pos_lists else np.empty(0, np.int64))
        pstart = np.concatenate(([0], np.cumsum(tfs)[:-1])).astype(np.int64)
        if pos_flat.size:
            pdel = np.diff(pos_flat, prepend=np.int64(0))
            pdel[pstart] = pos_flat[pstart]
        else:
            pdel = pos_flat

        # one varbyte encode per column for the WHOLE batch, then slice
        dd_buf = memoryview(varbyte_encode(dd))
        tf_buf = memoryview(varbyte_encode(tfs))
        dl_buf = memoryview(varbyte_encode(doclens))
        po_buf = memoryview(varbyte_encode(pdel))
        dd_off = np.concatenate(([0], np.cumsum(_vb_nbytes(dd))))
        tf_off = np.concatenate(([0], np.cumsum(_vb_nbytes(tfs))))
        dl_off = np.concatenate(([0], np.cumsum(_vb_nbytes(doclens))))
        po_off = np.concatenate(([0], np.cumsum(_vb_nbytes(pdel))))
        pend = pstart + tfs                      # position end per posting
        blk_p0 = pstart[bs]
        blk_p1 = pend[be - 1]

        yield pd.DataFrame({
            "term": terms[bs], "field": fields[bs],
            "bucket": buckets[bs].astype(np.int32),
            "block_seq": blk_seq.astype(np.int32),
            "n": (be - bs).astype(np.int32),
            "min_docid": doc_ids[bs],
            "max_docid": doc_ids[be - 1],
            "max_tf": np.maximum.reduceat(tfs, bs).astype(np.int32),
            "min_doclen": np.minimum.reduceat(doclens, bs),
            "docids_vb": [bytes(dd_buf[dd_off[a]:dd_off[b]])
                          for a, b in zip(bs, be)],
            "tfs_vb": [bytes(tf_buf[tf_off[a]:tf_off[b]])
                       for a, b in zip(bs, be)],
            "positions_vb": [bytes(po_buf[po_off[a]:po_off[b]])
                             for a, b in zip(blk_p0, blk_p1)],
            "doclens_vb": [bytes(dl_buf[dl_off[a]:dl_off[b]])
                           for a, b in zip(bs, be)],
        })


def _fingerprint(postings: DataFrame) -> dict:
    """Cheap input lineage: counts + checksums, one aggregate pass."""
    r = postings.agg(
        F.count("*").alias("rows"),
        F.sum("tf").alias("sum_tf"),
        F.sum(F.crc32(F.concat_ws(":", "term", F.col("doc_id").cast("string"),
                                  F.col("tf").cast("string"))))
        .alias("crc_sum")).collect()[0]
    return {"rows": int(r["rows"]), "sum_tf": int(r["sum_tf"] or 0),
            "crc_sum": int(r["crc_sum"] or 0)}


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest.jsonl")


def journal_append(path: str, *entries: dict) -> None:
    """Append jsonl journal entries as isolated, fsynced lines — the
    shared commit-point primitive for every manifest in the repo (this
    module, `indexer.merge`, `pipeline.similarity`). If a prior crash
    left the file without a trailing newline, the new entries open a
    fresh line so torn debris can never swallow a committed entry; the
    single fsync is the durability point for the whole call."""
    lead, new_file = "", not os.path.exists(path)
    if not new_file and os.path.getsize(path) > 0:
        with open(path, "rb") as f:
            f.seek(-1, os.SEEK_END)
            if f.read(1) != b"\n":
                lead = "\n"
    with open(path, "a") as f:
        f.write(lead + "".join(json.dumps(e) + "\n" for e in entries))
        f.flush()
        os.fsync(f.fileno())
    if new_file:
        # a journal's FIRST entry is only durable once the directory
        # entry for the new file is — fsync the parent too
        dfd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)


def journal_read(path: str) -> list[dict]:
    """Read a jsonl journal, skipping undecodable lines: a torn line is
    crash debris from an append that never returned — its entry never
    committed, and `journal_append` isolates it so no committed entry
    is fused into it."""
    if not os.path.exists(path):
        return []
    out = []
    with open(path) as f:
        for i, ln in enumerate(f):
            if not ln.strip():
                continue
            try:
                out.append(json.loads(ln))
            except json.JSONDecodeError:
                # expected only for crash debris; a damaged COMMITTED
                # entry would also land here, so surface it loudly —
                # silent loss of a gen entry would let its number be
                # reused and overwritten
                warnings.warn(
                    f"journal_read: skipping undecodable line {i + 1} "
                    f"of {path} (crash debris, or corruption of a "
                    f"committed entry)")
    return out


def read_manifest(out_dir: str) -> list[dict]:
    return journal_read(_manifest_path(out_dir))


def completed_buckets(out_dir: str, fingerprint: dict) -> set[int]:
    return {m["bucket"] for m in read_manifest(out_dir)
            if m.get("fingerprint") == fingerprint}


def build_segments(postings: DataFrame, doclens: DataFrame, out_dir: str,
                   num_buckets: int = 32, chunk: int = 8,
                   fingerprint: dict | None = None) -> dict:
    """Build (or resume) compressed segments for `postings`, which carry
    doclen per row (the `indexer.build.Index` contract). `doclens` is
    not read; it stays in the signature for existing callers.

    Returns build metrics. Safe to re-run after interruption: buckets
    already recorded in the manifest (with a matching input fingerprint)
    are skipped; work proceeds in `chunk`-bucket units with the manifest
    appended after each, so the checkpoint granularity is `chunk`
    buckets.
    """
    os.makedirs(out_dir, exist_ok=True)
    fingerprint = fingerprint or _fingerprint(postings)
    done = completed_buckets(out_dir, fingerprint)
    todo = [b for b in range(num_buckets) if b not in done]
    src = postings.withColumn("bucket",
                              F.expr(bucket_of("term", num_buckets)))
    metrics = {"buckets_total": num_buckets, "buckets_skipped": len(done),
               "buckets_built": 0, "blocks": 0, "postings": 0}
    for i in range(0, len(todo), chunk):
        batch = todo[i:i + chunk]
        part = (src.where(sql_in("bucket", batch))
                .repartitionByRange(len(batch), "bucket", "term", "doc_id")
                .sortWithinPartitions("bucket", "term", "field", "doc_id"))
        seg = part.select("term", "field", "bucket", "doc_id", "tf",
                          "positions", "doclen") \
            .mapInPandas(_encode_partition, schema=SEGMENT_SCHEMA)
        (seg.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("bucket").parquet(out_dir))
        # per-bucket counters for the manifest (lineage + metrics)
        spark = postings.sparkSession
        counts = (spark.read.schema(SEGMENT_SCHEMA).parquet(out_dir)
                  .where(sql_in("bucket", batch))
                  .groupBy("bucket")
                  .agg(F.count("*").alias("blocks"),
                       F.sum("n").alias("postings"),
                       F.countDistinct("term").alias("terms")).collect())
        by_bucket = {int(r["bucket"]): r for r in counts}
        # manifest EVERY bucket of the batch — a bucket that owns no
        # terms still completed; without its entry, resume would
        # launch a spurious job for it on every restart
        entries = []
        for b in batch:
            r = by_bucket.get(b)
            entries.append({"stage": "segments", "bucket": b,
                            "blocks": int(r["blocks"]) if r else 0,
                            "postings": int(r["postings"]) if r else 0,
                            "terms": int(r["terms"]) if r else 0,
                            "fingerprint": fingerprint})
            metrics["blocks"] += entries[-1]["blocks"]
            metrics["postings"] += entries[-1]["postings"]
        journal_append(_manifest_path(out_dir), *entries)
        metrics["buckets_built"] += len(batch)
    return metrics


def read_segments(spark: SparkSession, out_dir: str,
                  terms: list[str] | None = None,
                  num_buckets: int = 32) -> DataFrame:
    """Scan segment blocks, pruned to the query terms' buckets (directory
    pruning on `bucket`) + parquet row-group min/max on `term`. n=0
    placeholder blocks (partition pins written by a purging
    `merge.compact_segments`) are dropped at the scan.

    Building the frame runs no Spark job: the read declares
    SEGMENT_SCHEMA (no footer-inference job), and the bucket filter is
    `bucket IN (bucket_of('t'), ...)`, which Catalyst constant-folds
    into the scan's PartitionFilters. The filter is one SQL string, so
    its size costs the driver no Py4J round trip per term."""
    df = spark.read.schema(SEGMENT_SCHEMA).parquet(out_dir)
    cond = "n > 0"
    if terms:
        ts = sorted(set(terms))
        buckets = ", ".join(bucket_of(str_lit(t), num_buckets) for t in ts)
        cond += f" AND bucket IN ({buckets}) AND {sql_in('term', ts)}"
    return df.where(cond)


def decode_to_postings(segments: DataFrame,
                       deleted: np.ndarray | None = None) -> DataFrame:
    """Blocks → the logical postings frame (term, field, doc_id, tf,
    positions, doclen) — the EXACT shape `indexer.build` produces, so
    every engine operator (Boolean, Indri, #NEAR/#WINDOW/#SYN zippers,
    feedback/LeToR probes) can run off the compressed store without a
    parallel uncompressed index. The Lucene materialization analog is
    `InvList.java:107-145` (a query decodes only its own terms'
    postings); pruning happens in the caller's
    `read_segments(terms=...)` scan, so decode cost tracks the pruned
    blocks, never the corpus.

    deleted: optional sorted tombstone array (`merge.deleted_doc_ids`)
    masked during decode — a deleted doc never reaches an operator,
    while df/ctf stats stay full-corpus (Lucene liveDocs semantics).
    """
    deleted_b = deleted if deleted is not None and deleted.size else None

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = decode_blocks_batch(pdf, deleted=deleted_b)
            if out is not None:
                yield out

    return segments.mapInPandas(
        gen, schema="term string, field string, doc_id long, tf int, "
                    "positions array<int>, doclen long")


def _seg_cumsum(v: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Segmented cumulative sum: cumsum restarting at each segment of
    `counts` (vectorized — global cumsum minus the running total at
    each segment start)."""
    if v.size == 0:
        return v
    g = np.cumsum(v)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    nz = counts > 0
    base = np.zeros(counts.size, dtype=g.dtype)
    base[nz] = g[starts[nz]] - v[starts[nz]]
    return g - np.repeat(base, counts)


def decode_blocks_batch(pdf: pd.DataFrame,
                        deleted: np.ndarray | None = None,
                        extra_cols: tuple[str, ...] = ()
                        ) -> pd.DataFrame | None:
    """One Arrow batch of segment blocks → posting rows, batch-vectorized:
    varbyte is a prefix code and every block carries its posting count
    `n`, so the WHOLE batch decodes with four `varbyte_decode` calls on
    concatenated bytes + segmented cumsums — no per-block (let alone
    per-posting) Python. The earlier per-posting dict-append loop was
    ~all of compaction's and `search_segments_many`' decode wall time.

    deleted: optional sorted tombstone id array masked during decode.
    extra_cols: block columns to carry through per posting (e.g.
    'bucket' for the compaction rebuild). → DataFrame (term, field,
    doc_id, tf, positions, doclen, *extra_cols) or None if empty."""
    if len(pdf) == 0:
        return None
    n = pdf["n"].to_numpy(np.int64)
    if not n.sum():
        return None
    d = varbyte_decode(b"".join(pdf["docids_vb"]))       # doc-id deltas
    doc_ids = _seg_cumsum(d, n).astype(np.int64)
    tfs = varbyte_decode(b"".join(pdf["tfs_vb"])).astype(np.int64)
    dls = varbyte_decode(b"".join(pdf["doclens_vb"])).astype(np.int64)
    pdel = varbyte_decode(b"".join(pdf["positions_vb"]))  # per-doc deltas
    abs_pos = _seg_cumsum(pdel, tfs).astype(np.int32)
    pos_lists = np.split(abs_pos, np.cumsum(tfs)[:-1])
    cols = {
        "term": np.repeat(pdf["term"].to_numpy(), n),
        "field": np.repeat(pdf["field"].to_numpy(), n),
        "doc_id": doc_ids, "tf": tfs.astype(np.int32),
        "positions": pos_lists, "doclen": dls,
    }
    for c in extra_cols:
        cols[c] = np.repeat(pdf[c].to_numpy(), n)
    out = pd.DataFrame(cols)
    if deleted is not None and deleted.size:
        out = out[~np.isin(doc_ids, deleted)]
    return out if len(out) else None
