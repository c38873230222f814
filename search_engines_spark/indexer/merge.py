"""Incremental segment generations + compaction (Lucene merge analog).

The reference's index lifecycle is Lucene's: every commit writes a new
immutable segment and a background merge policy folds small segments
into larger ones (`Idx.java:162-197` opens the merged product; the
merging itself lives inside Lucene 4.3's TieredMergePolicy). This
module is that lifecycle for the compressed varbyte layout of
`segments.py`:

* `append_segments(postings, seg_dir)` — encode a DELTA of new
  documents' postings through the SAME Arrow block encoder and commit
  it as the next generation under `seg_dir/_delta/gen=G/bucket=B/`.
  Idempotent by input fingerprint: re-running with an already-committed
  delta is a no-op (foreachBatch retries, crashed drivers).
* `read_segments_merged(...)` — base ∪ live generations, with the same
  bucket-directory + parquet term min/max pruning applied to every
  generation (a generation is layout-identical to the base, so the
  pruned reader is reused verbatim).
* `compact_segments(...)` — fold all live generations into the base:
  ONLY the buckets the deltas touch are rebuilt (decode base + delta
  blocks → posting rows → re-encode into a hidden staging dir → one
  journal-line commit → per-bucket rename publish; the journal append
  is the sole commit point, Lucene's `segments_N` swap), then the
  generation dirs are retired. Work scales with
  |delta| + |base postings in touched buckets|, never corpus size —
  at 10^12 docs a nightly compaction touches the buckets the day's
  crawl touched, nothing else.
* `merge_stream_into_segments(...)` — bridge from `streaming.ingest`'s
  batch_id-partitioned postings sink: appends only batches not yet
  committed (tracked per-generation in the manifest), so stream →
  queryable block-max segments is one idempotent call.
* `update_segments(...)` — supersede documents (incremental re-crawl of
  an evolving corpus): append the new versions as a generation +
  tombstone the old doc_ids, one idempotent lifecycle op.
* snapshot reads — `read_segments_merged(..., as_of=G)` reproduces the
  store exactly as of generation G (generations > G and deletions
  stamped after G are invisible); history expires at the compaction
  floor, the Iceberg snapshot-expiration analog.

Correctness contract: a (term, field, doc_id) posting appears in
exactly ONE generation — the append-only-corpus invariant of
`streaming.ingest` (new batches carry new doc_ids). Readers never
assume block ordering across generations: `engine.daat` groups blocks
by doc-stride and unions per-doc contributions, so a merged read
scores exactly the postings multiset of a from-scratch build;
`compact_segments` then makes that physical (verified block-identical
up to block regrouping in tests/test_merge.py).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..literals import local_frame, sql_in
from .build import POSTINGS_SCHEMA
from .segments import (SEGMENT_SCHEMA, _encode_partition, _fingerprint,
                       bucket_of, journal_append, journal_read, read_segments)

_DELTA_DIR = "_delta"


def _gen_manifest_path(seg_dir: str) -> str:
    return os.path.join(seg_dir, "_delta_manifest.jsonl")


def _read_gen_manifest(seg_dir: str) -> list[dict]:
    return journal_read(_gen_manifest_path(seg_dir))


_REBUILD_DIR = "_rebuild"


def _txn_path(seg_dir: str, txn: int) -> str:
    return os.path.join(seg_dir, _REBUILD_DIR, f"txn={txn}")


def _gen_path(seg_dir: str, gen: int) -> str:
    return os.path.join(seg_dir, _DELTA_DIR, f"gen={gen}")


def live_generations(seg_dir: str,
                     manifest: list[dict] | None = None) -> list[int]:
    """Generations committed but not yet compacted into the base."""
    manifest = _read_gen_manifest(seg_dir) if manifest is None else manifest
    floor = compaction_floor(seg_dir, manifest)
    gens = {int(m["gen"]) for m in manifest if "gen" in m}
    return sorted(g for g in gens if g > floor)


def folded_map(seg_dir: str,
               manifest: list[dict] | None = None) -> dict[int, set[int]]:
    """{gen: buckets already folded by a journaled rebuild txn} for LIVE
    generations — the per-(gen, bucket) compaction progress journal. A
    chunk's journal entry is its COMMIT POINT (the staged rebuild is
    complete the moment the entry exists), so (a) replays skip journaled
    buckets instead of re-encoding their delta postings, and (b)
    `read_segments_merged` stops reading a generation's bucket the
    moment a txn holding its rows is journaled."""
    manifest = _read_gen_manifest(seg_dir) if manifest is None else manifest
    floor, out = compaction_floor(seg_dir, manifest), {}
    for m in manifest:
        if "folded_buckets" in m:
            for g in m.get("gens", []):
                out.setdefault(int(g), set()).update(
                    int(b) for b in m["folded_buckets"])
    return {g: b for g, b in out.items() if g > floor}


def pending_txns(seg_dir: str,
                 manifest: list[dict] | None = None) -> dict[int, list[int]]:
    """{txn: buckets} of journaled rebuild txns whose staged data has
    not yet been published (renamed) into the base — non-empty only in
    the window between a chunk's journal append and the completion of
    its per-bucket publish renames (i.e. after a crash). Readers serve
    these buckets from the txn's staging dir; `compact_segments`
    finishes the publish before doing new work."""
    manifest = _read_gen_manifest(seg_dir) if manifest is None else manifest
    pubs, txns = set(), {}
    for m in manifest:
        if "published_txn" in m:
            pubs.add(int(m["published_txn"]))
        elif "folded_buckets" in m and "txn" in m:
            txns[int(m["txn"])] = [int(b) for b in m["folded_buckets"]]
    return {t: b for t, b in txns.items() if t not in pubs}


def merged_batches(seg_dir: str) -> set[int]:
    """Streaming batch_ids already committed to some generation
    (compacted or live — compaction never un-commits input)."""
    out: set[int] = set()
    for m in _read_gen_manifest(seg_dir):
        out.update(m.get("source_batches", []))
    return out


def append_segments(postings: DataFrame, seg_dir: str,
                    num_buckets: int = 32,
                    source_batches: list[int] | None = None,
                    fingerprint: dict | None = None) -> dict:
    """Commit `postings` (a delta of NEW documents, doclen inlined) as
    the next segment generation. Returns metrics; a delta whose
    fingerprint is already committed is skipped (idempotent retry)."""
    os.makedirs(seg_dir, exist_ok=True)
    fingerprint = fingerprint or _fingerprint(postings)
    manifest = _read_gen_manifest(seg_dir)
    for m in manifest:
        if m.get("fingerprint") == fingerprint:
            return {"gen": int(m["gen"]), "skipped": True,
                    "blocks": m.get("blocks", 0),
                    "postings": m.get("postings", 0)}
    gen = max([int(m["gen"]) for m in manifest if "gen" in m], default=0) + 1
    out = _gen_path(seg_dir, gen)
    src = postings.withColumn("bucket",
                              F.expr(bucket_of("term", num_buckets)))
    part = (src.repartitionByRange(num_buckets, "bucket", "term", "doc_id")
            .sortWithinPartitions("bucket", "term", "field", "doc_id")
            .select("term", "field", "bucket", "doc_id", "tf",
                    "positions", "doclen"))
    seg = part.mapInPandas(_encode_partition, schema=SEGMENT_SCHEMA)
    seg.write.mode("overwrite").partitionBy("bucket").parquet(out)
    spark = postings.sparkSession
    counts = (spark.read.schema(SEGMENT_SCHEMA).parquet(out)
              .agg(F.count("*").alias("blocks"),
                   F.sum("n").alias("postings")).collect()[0])
    entry = {"gen": gen, "fingerprint": fingerprint,
             "blocks": int(counts["blocks"] or 0),
             "postings": int(counts["postings"] or 0)}
    if source_batches is not None:
        entry["source_batches"] = sorted(int(b) for b in source_batches)
    journal_append(_gen_manifest_path(seg_dir), entry)   # the commit point
    return {**entry, "skipped": False}


def compaction_floor(seg_dir: str,
                     manifest: list[dict] | None = None) -> int:
    """Highest generation already folded into the base — the horizon
    below which history is physically gone (the Iceberg
    snapshot-expiration analog): `as_of` reads can reach back only to
    generations ≥ this floor."""
    manifest = _read_gen_manifest(seg_dir) if manifest is None else manifest
    floor = 0
    for m in manifest:
        if "compacted_through" in m:
            floor = max(floor, int(m["compacted_through"]))
    return floor


def snapshot_floor(seg_dir: str,
                   manifest: list[dict] | None = None) -> int:
    """Oldest generation an `as_of` read can still reproduce. Usually
    the compaction floor, but a PARTIAL compaction already moves it: the
    moment any chunk folding generation G is journaled, the base (or its
    staged rebuild) holds G's postings for those buckets un-separably,
    so every snapshot below G is gone even before the retire marker
    lands (crash window, or a reader racing a live compaction)."""
    manifest = _read_gen_manifest(seg_dir) if manifest is None else manifest
    floor = compaction_floor(seg_dir, manifest)
    for m in manifest:
        if "folded_buckets" in m:
            floor = max(floor, max((int(g) for g in m.get("gens", [])),
                                   default=0))
    return floor


def latest_generation(seg_dir: str) -> int:
    """Highest committed generation (compacted or live); 0 = base only."""
    return max([int(m["gen"]) for m in _read_gen_manifest(seg_dir)
                if "gen" in m], default=0)


def read_segments_merged(spark: SparkSession, seg_dir: str,
                         terms: list[str] | None = None,
                         num_buckets: int = 32,
                         as_of: int | None = None) -> DataFrame:
    """Base ∪ live generations, each read through the pruned
    `read_segments` reader (generations are layout-identical).

    `as_of=G` is a snapshot read: only generations ≤ G participate, so
    the result is exactly what a reader saw right after generation G
    committed (time travel over the append lifecycle). History reaches
    back only to the snapshot floor — `compact_segments` folds
    generations into the base irreversibly (Iceberg snapshot
    expiration), and a PARTIAL compaction already expires the snapshots
    below the generations it started folding; asking for an expired
    snapshot raises.

    Crash consistency: a journaled-but-unpublished rebuild txn (a
    compaction crashed between its journal append and its per-bucket
    publish renames) is served from the txn's STAGING dir, masked out
    of the base scan — readers see exactly one copy of every posting at
    every crash point. Readers never publish: finishing the crashed
    publish is the next compaction's replay step, which keeps publish
    single-writer BY CONSTRUCTION — two readers racing a read-time
    roll-forward of the same txn could otherwise retire each other's
    freshly renamed buckets and lose data (no portable atomic
    dir-exchange exists to make concurrent publish safe without a
    lock service). The staging window costs one extra pruned scan per
    pending txn and closes at the next compaction."""
    manifest = _read_gen_manifest(seg_dir)
    if as_of is not None:
        floor = snapshot_floor(seg_dir, manifest)
        if as_of < floor:
            raise ValueError(
                f"snapshot as_of={as_of} expired: generations through "
                f"{floor} are (or are being) compacted into the base")
    df = read_segments(spark, seg_dir, terms=terms, num_buckets=num_buckets)
    # buckets owned by a committed-but-unpublished rebuild txn: staging
    # is authoritative for any bucket whose dir still exists there (the
    # publish rename is per-bucket atomic — a missing staging dir means
    # that bucket already reached the base)
    override: dict[int, int] = {}
    for txn, bks in sorted(pending_txns(seg_dir, manifest).items()):
        for b in bks:
            if os.path.isdir(os.path.join(_txn_path(seg_dir, txn),
                                          f"bucket={b}")):
                override[b] = txn
    if override:
        df = df.where(f"NOT {sql_in('bucket', sorted(override))}")
        for txn in sorted(set(override.values())):
            bks = sorted(b for b, t in override.items() if t == txn)
            s = read_segments(spark, _txn_path(seg_dir, txn),
                              terms=terms, num_buckets=num_buckets)
            df = df.unionByName(s.where(sql_in("bucket", bks)))
    folded = folded_map(seg_dir, manifest)
    for gen in live_generations(seg_dir, manifest):
        if as_of is not None and gen > as_of:
            continue
        g = read_segments(spark, _gen_path(seg_dir, gen),
                          terms=terms, num_buckets=num_buckets)
        done = folded.get(gen)
        if done:   # buckets a journaled txn already holds
            g = g.where(f"NOT {sql_in('bucket', sorted(done))}")
        df = df.unionByName(g)
    return df


def read_segments_for_docs(spark: SparkSession, seg_dir: str,
                           doc_ids, num_buckets: int = 32,
                           as_of: int | None = None) -> DataFrame:
    """Segment blocks that can contain postings of the given docs — the
    forward-index probe for a segments-only deployment (feedback's
    TermVector scan, `QryEval.java:96-147`, needs every stem of a few
    top docs). A doc's postings span arbitrary term buckets, but blocks
    carry [min_docid, max_docid], so the scan keeps only blocks whose
    doc range covers a wanted id — one OR-chain predicate over block
    metadata (wanted sets are fbDocs-sized, ≤ hundreds), never a full
    decode. Pair with `segments.decode_to_postings(...)` + a doc_id
    filter for the logical rows."""
    ids = sorted({int(d) for d in doc_ids})
    df = read_segments_merged(spark, seg_dir, num_buckets=num_buckets,
                              as_of=as_of)
    cond = " OR ".join(f"(min_docid <= {d} AND max_docid >= {d})"
                       for d in ids)
    return df.where(cond or "FALSE")


_DECODE_SCHEMA = POSTINGS_SCHEMA + ", bucket int"


def _decode_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Inverse of `segments._encode_partition`: segment block rows →
    posting rows (positions reconstructed from per-doc deltas with
    doc-start absolute), carrying `bucket` through for the rebuild.
    Batch-vectorized via `segments.decode_blocks_batch` — numpy touches
    ints, Python touches nothing per posting."""
    from .segments import decode_blocks_batch
    for pdf in batches:
        out = decode_blocks_batch(pdf, extra_cols=("bucket",))
        if out is not None:
            yield out[["term", "field", "doc_id", "tf", "positions",
                       "doclen", "bucket"]]


_TOMBSTONE_DIR = "_tombstones"
# declared, not inferred: no footer-inference job per read, and files
# written before gen-stamping existed (doc_id only) read gen as null
_TOMBSTONE_SCHEMA = "doc_id long, gen int"

# Fault-injection hook for crash-replay tests: called with
# ("chunk_written", i) after a chunk's staging write commits,
# ("chunk_journaled", i) after its journal entry (the commit point)
# lands, and ("chunk_published", i) after its per-bucket publish
# renames. Tests raise from it to simulate a driver crash at any
# boundary; None in production.
_test_crash_hook = None


def delete_docs(spark: SparkSession, seg_dir: str, doc_ids) -> dict:
    """Tombstone deletes — the Lucene liveDocs analog. Records doc_ids
    as deleted WITHOUT touching segment data (a doc's postings are
    scattered across every bucket its terms hash to; rewriting them
    eagerly would be a corpus-sized job). Accepts a DataFrame with a
    `doc_id` column or an iterable of ids; set semantics make replays
    idempotent. An iterable is written from a JVM-local table
    (`literals.local_frame`, one inline VALUES literal), so the ids
    must fit in a driver-side SQL text; pass large id sets as a
    DataFrame. Lucene-faithful scoring contract: corpus stats and df
    keep counting deleted docs (Lucene's docFreq-includes-deletes) —
    readers only mask the docs out of results. A purging merge
    (`compact_segments(purge_deletes=True)` = forceMerge) removes the
    physical postings; stats change only when the logical Index frames
    are rebuilt over the surviving corpus."""
    if not isinstance(doc_ids, DataFrame):
        doc_ids = local_frame(spark, [(int(d),) for d in doc_ids],
                              "doc_id long")
    out = os.path.join(seg_dir, _TOMBSTONE_DIR)
    # stamp the snapshot the deletion belongs to: visible to readers at
    # as_of ≥ this generation (deletions fold into the CURRENT snapshot
    # rather than opening a new one — set semantics keep replays cheap)
    gen = latest_generation(seg_dir)
    (doc_ids.selectExpr("CAST(doc_id AS BIGINT) AS doc_id",
                        f"CAST({int(gen)} AS INT) AS gen")
     .write.mode("append").parquet(out))
    total = (spark.read.schema(_TOMBSTONE_SCHEMA).parquet(out)
             .select("doc_id").distinct().count())
    return {"deleted_total": int(total)}


def deleted_doc_ids(spark: SparkSession, seg_dir: str) -> np.ndarray:
    """Distinct tombstoned doc_ids as a driver-side array. Only for
    driver-bounded uses (purge compaction metrics, tests); query paths
    mask with `deleted_docs_df` so the tombstone set never has to fit
    on the driver or in a UDF closure."""
    p = os.path.join(seg_dir, _TOMBSTONE_DIR)
    if not os.path.isdir(p):
        return np.empty(0, dtype=np.int64)
    rows = (spark.read.schema(_TOMBSTONE_SCHEMA).parquet(p)
            .select("doc_id").distinct().collect())
    return np.array(sorted(r["doc_id"] for r in rows), dtype=np.int64)


def deleted_docs_df(spark: SparkSession, seg_dir: str,
                    as_of: int | None = None) -> DataFrame | None:
    """Tombstoned doc_ids as a lazy DataFrame (None when no tombstones
    exist) — the scale-safe mask form: readers anti-join or cogroup it
    instead of shipping an id array in a closure, so a delete-heavy
    store between purges never grows the driver heap or task binaries.
    An id deleted twice appears twice: both readers ignore repeats (the
    left-anti join by definition, the DAAT kernel's `np.isin`), so a
    `distinct` here would only add a shuffle stage to every query.
    `as_of=G`: only deletions stamped at generation ≤ G (snapshot
    read); tombstones written before stamping existed count as
    generation 0 (visible at every snapshot)."""
    p = os.path.join(seg_dir, _TOMBSTONE_DIR)
    if not os.path.isdir(p):
        return None
    # a store that predates gen-stamping may mix stamped and unstamped
    # tombstone files; under the declared schema unstamped rows read
    # gen as null → gen 0
    df = spark.read.schema(_TOMBSTONE_SCHEMA).parquet(p)
    if as_of is not None:
        df = df.where(f"coalesce(gen, 0) <= {int(as_of)}")
    return df.select("doc_id")


def update_segments(spark: SparkSession, seg_dir: str,
                    postings: DataFrame, replaces,
                    num_buckets: int = 32,
                    fingerprint: dict | None = None) -> dict:
    """Replace documents in one lifecycle op: commit `postings` (the NEW
    document versions, carrying NEW doc_ids) as the next generation and
    tombstone `replaces` (the superseded versions' doc_ids).

    This is the incremental-crawl op for an evolving code corpus: the
    same repo:path at a new commit is a new (repo, path, commit) key →
    a new doc_id (`build.docs_from_code_corpus`), so an update never
    mutates postings in place — it supersedes. Cost is
    O(|delta postings|) + a tombstone append, never corpus-sized.

    Ordering + idempotence: the append commits FIRST (fingerprint-keyed,
    so replays skip it), tombstones second (set semantics). A crash
    between the two leaves both versions briefly visible — re-running
    the same update converges. Snapshot semantics line up exactly: the
    tombstones are stamped with the new generation, so `as_of = gen`
    sees only the new versions and `as_of = gen - 1` only the old ones.

    `replaces`: DataFrame with a doc_id column or an iterable of ids —
    compute it for a crawl delta with `superseded_doc_ids`."""
    out = append_segments(postings, seg_dir, num_buckets=num_buckets,
                          fingerprint=fingerprint)
    dels = delete_docs(spark, seg_dir, replaces)
    return {**out, **dels}


def superseded_doc_ids(docs: DataFrame, delta: DataFrame) -> DataFrame:
    """doc_ids of every indexed version of a (repo, path) that a crawl
    delta re-ingests — the `replaces` input of `update_segments`. The
    delta side is |changed files|-sized, so the join broadcasts."""
    keys = delta.select("repo", "path").distinct()
    return docs.join(F.broadcast(keys), ["repo", "path"], "inner") \
        .select("doc_id")


def _publish_txn(seg_dir: str, txn: int, buckets: list[int]) -> None:
    """Move a journaled rebuild txn's staged bucket dirs into the base —
    one atomic `os.rename` per bucket, idempotent: a bucket whose
    staging dir is gone already reached the base (the rename either
    happened or didn't; there is no partial state a reader can observe,
    because readers prefer staging whenever its dir exists). Appends the
    `published_txn` marker once every bucket is in place.

    Called ONLY from writer paths (the compactor's replay step and the
    streaming fold) — readers serve pending txns from staging and never
    publish, so publish is single-writer by construction and cannot be
    raced. Within the single writer the protocol is crash-idempotent: a
    bucket whose staging dir is gone already reached the base; the old
    base bucket is renamed ASIDE (atomic) before the staging renames IN,
    so no crash point leaves zero or two live copies; replay after any
    crash finishes the remaining renames. A duplicate `published_txn`
    marker is harmless (`pending_txns` uses a set)."""
    root = _txn_path(seg_dir, txn)
    for b in buckets:
        s = os.path.join(root, f"bucket={b}")
        if not os.path.isdir(s):
            continue   # already published (replay)
        t = os.path.join(seg_dir, f"bucket={b}")
        # leading "_" with NO "=" in the name keeps the retired dir out
        # of Spark partition discovery when a fallback reader scans the
        # txn staging root (underscore paths containing "=" are NOT
        # filtered by InMemoryFileIndex)
        retired = os.path.join(root, f"_retired.bucket.{b}")
        try:
            os.rename(t, retired)        # atomic retire of the old bucket
        except OSError:
            pass   # no old bucket, or a crashed attempt already retired
            #        it (then `t` is gone and the rename below finishes
            #        the job on replay)
        if _test_crash_hook is not None:
            _test_crash_hook("bucket_retired", b)
        os.rename(s, t)                  # atomic publish of the staging
        shutil.rmtree(retired, ignore_errors=True)
    shutil.rmtree(root, ignore_errors=True)   # _SUCCESS, leftover .retired
    journal_append(_gen_manifest_path(seg_dir), {"published_txn": txn})


def compact_segments(spark: SparkSession, seg_dir: str,
                     num_buckets: int = 32, chunk: int = 8,
                     purge_deletes: bool = False) -> dict:
    """Fold all live generations into the base layout. Only buckets the
    deltas touch are rebuilt; generation dirs are retired afterwards.

    Crash-replay safety — the journal append is the ONLY commit point
    (the Lucene `segments_N` / Iceberg metadata-swap analog):
    * each chunk is rebuilt into a hidden staging dir
      (`_rebuild/txn=T/bucket=B/`) that no reader lists; a crash during
      the Spark job leaves invisible garbage, swept on replay;
    * the chunk commits by appending one `folded_buckets`+`txn` journal
      line (a single O_APPEND write). From that instant
      `read_segments_merged` serves the chunk's buckets from staging
      and skips them in the affected generations — readers see exactly
      one copy of every posting at EVERY crash point, so no read-side
      dedupe (and no dedupe shuffle here) is needed;
    * publish then renames each staged bucket dir into the base
      (per-bucket atomic, idempotent — readers prefer staging while its
      dir exists) and appends `published_txn`; a crashed publish is
      finished by the next compaction before any new work;
    * the `compacted_through` retire marker is written BEFORE the
      generation dirs are removed; a crash in between leaves orphan
      dirs that no reader references, swept on the next compaction.

    purge_deletes=True additionally rewrites EVERY bucket dropping
    tombstoned docs' postings, then clears the tombstones — Lucene's
    forceMerge. Every staged bucket carries an inert placeholder block
    (n=0), so even a fully-tombstoned bucket's directory is replaced at
    publish — stale postings can never resurrect. The default merge
    leaves tombstones in place (read-time mask) because a deleted doc's
    postings span arbitrary term buckets."""
    manifest = _read_gen_manifest(seg_dir)
    floor = compaction_floor(seg_dir, manifest)
    delta_root = os.path.join(seg_dir, _DELTA_DIR)
    if os.path.isdir(delta_root):          # sweep retired-orphan dirs
        for d in os.listdir(delta_root):
            if d.startswith("gen=") and int(d.split("=", 1)[1]) <= floor:
                shutil.rmtree(os.path.join(delta_root, d),
                              ignore_errors=True)
    # finish any crashed publish (journaled txns are committed — their
    # staged buckets just haven't all reached the base yet) ...
    pending = pending_txns(seg_dir, manifest)
    for txn in sorted(pending):
        _publish_txn(seg_dir, txn, pending[txn])
    txn_next = max([int(m["txn"]) for m in manifest if "txn" in m],
                   default=0) + 1
    # ... and sweep staging dirs no journal entry ever committed
    rb_root = os.path.join(seg_dir, _REBUILD_DIR)
    if os.path.isdir(rb_root):
        committed = {int(m["txn"]) for m in manifest if "txn" in m}
        for d in os.listdir(rb_root):
            if d.startswith("txn=") and \
                    int(d.split("=", 1)[1]) not in committed:
                shutil.rmtree(os.path.join(rb_root, d), ignore_errors=True)
    manifest = _read_gen_manifest(seg_dir)   # publish appended markers
    gens = live_generations(seg_dir, manifest)
    folded = folded_map(seg_dir, manifest)
    tombs = deleted_doc_ids(spark, seg_dir) if purge_deletes else \
        np.empty(0, dtype=np.int64)
    if not gens and not tombs.size:
        return {"compacted_gens": 0, "buckets_rebuilt": 0}
    touched: set[int] = set()
    for gen in gens:
        root = _gen_path(seg_dir, gen)
        if os.path.isdir(root):
            touched.update(int(d.split("=", 1)[1])
                           for d in os.listdir(root)
                           if d.startswith("bucket="))
    if tombs.size:   # purge must visit every bucket that holds data
        touched.update(int(d.split("=", 1)[1])
                       for d in os.listdir(seg_dir)
                       if d.startswith("bucket="))
    else:            # replay: buckets already folded for every live gen
        touched = {b for b in touched
                   if any(b not in folded.get(g, set()) for g in gens)}
    buckets = sorted(touched)
    metrics = {"compacted_gens": len(gens), "buckets_rebuilt": 0,
               "blocks": 0, "postings": 0}
    for i in range(0, len(buckets), chunk):
        batch = buckets[i:i + chunk]
        txn = txn_next
        txn_next += 1
        # read_segments_merged already excludes each generation's folded
        # buckets — a partially-compacted bucket decodes base-only here
        blocks = read_segments_merged(spark, seg_dir,
                                      num_buckets=num_buckets) \
            .where(sql_in("bucket", batch))
        decoded = blocks.mapInPandas(_decode_partition,
                                     schema=_DECODE_SCHEMA)
        if tombs.size:
            tomb_df = local_frame(spark, [(int(d),) for d in tombs],
                                  "doc_id long")
            decoded = decoded.join(F.broadcast(tomb_df), "doc_id",
                                   "left_anti")
        part = (decoded
                .repartitionByRange(len(batch), "bucket", "term", "doc_id")
                .sortWithinPartitions("bucket", "term", "field", "doc_id")
                .select("term", "field", "bucket", "doc_id", "tf",
                        "positions", "doclen"))
        seg = part.mapInPandas(_encode_partition, schema=SEGMENT_SCHEMA)
        # pin every batch bucket with an inert placeholder block (n=0),
        # so its staging dir always exists: publish-idempotence reads
        # "staging dir gone" as "already renamed", and a fully-tombstoned
        # bucket's stale base dir still gets replaced
        seg = seg.unionByName(_placeholder_blocks(spark, batch))
        out = _txn_path(seg_dir, txn)
        seg.write.mode("overwrite").partitionBy("bucket").parquet(out)
        if _test_crash_hook is not None:
            _test_crash_hook("chunk_written", i // chunk)
        counts = (spark.read.schema(SEGMENT_SCHEMA).parquet(out)
                  .where(F.col("n") > 0)
                  .agg(F.count("*").alias("blocks"),
                       F.sum("n").alias("postings")).collect()[0])
        metrics["blocks"] += int(counts["blocks"] or 0)
        metrics["postings"] += int(counts["postings"] or 0)
        metrics["buckets_rebuilt"] += len(batch)
        journal_append(_gen_manifest_path(seg_dir),   # COMMIT point
                       {"folded_buckets": batch, "gens": gens, "txn": txn})
        if _test_crash_hook is not None:
            _test_crash_hook("chunk_journaled", i // chunk)
        _publish_txn(seg_dir, txn, batch)
        if _test_crash_hook is not None:
            _test_crash_hook("chunk_published", i // chunk)
    if gens:   # retire marker FIRST; dir removal is recoverable garbage
        journal_append(_gen_manifest_path(seg_dir),
                       {"compacted_through": max(gens), **metrics})
    for gen in gens:
        shutil.rmtree(_gen_path(seg_dir, gen), ignore_errors=True)
    if tombs.size:
        shutil.rmtree(os.path.join(seg_dir, _TOMBSTONE_DIR),
                      ignore_errors=True)
        metrics["purged_deletes"] = int(tombs.size)
    return metrics


def _placeholder_blocks(spark: SparkSession, buckets: list[int]) -> DataFrame:
    """One inert (n=0, empty varbyte) block row per bucket — pins a
    partition directory through dynamic overwrite. Decoders emit zero
    postings for it (`varbyte_decode(b"")` is empty) and pruned readers
    drop it up front (`read_segments` filters n > 0)."""
    rows = [("", "", int(b), 0, 0, 0, 0, 0, 0,
             bytearray(), bytearray(), bytearray(), bytearray())
            for b in buckets]
    return spark.createDataFrame(rows, SEGMENT_SCHEMA)


def merge_stream_into_segments(spark: SparkSession, stream_dir: str,
                               seg_dir: str,
                               num_buckets: int = 32) -> dict:
    """Append the not-yet-merged batches of a `streaming.ingest`
    postings sink (partitioned by batch_id) as one new generation.
    Only batches the ingest journal has PUBLISHED are consumed — a
    partition observed mid-write on a non-atomic filesystem is never
    committed (and then skipped forever by the batch_id dedup); sinks
    without a journal fall back to directory listing."""
    from ..streaming.ingest import published_batches
    df = spark.read.parquet(stream_dir)
    have = {int(r["batch_id"]) for r in
            df.select("batch_id").distinct().collect()}
    published = published_batches(stream_dir)
    if published is not None:
        have &= published
    new = sorted(have - merged_batches(seg_dir))
    if not new:
        return {"skipped": True, "batches": []}
    delta = df.where(sql_in("batch_id", new)).drop("batch_id")
    out = append_segments(delta, seg_dir, num_buckets=num_buckets,
                          source_batches=new)
    return {**out, "batches": new}
