"""Training-corpus export sink: deterministic shards + lineage manifest.

Write a document frame as `n_shards` deterministic shards with
a per-shard manifest carrying counts and an order-independent content
checksum derived from each row's sha256 — the `input_hint` per-row
content-equality invariant extended to the OUTPUT side, so a consumer
(tokenizer run, trainer) can verify a shard without re-reading the
source corpus.

Scale/determinism contract:
* shard = md5(doc_id) prefix mod n_shards — a pure function of the row
  (no `rand()`, no partition index), so re-runs, resumes, and different
  cluster sizes produce byte-identical shard membership;
* one `partitionBy(shard)` write — shard count bounds writer tasks and
  downstream file counts; the shuffle moves each row once;
* the manifest is computed FROM THE WRITTEN FILES (one map-side-combined
  rollup of the version dir), so manifest == disk by construction even
  if the input DataFrame's lineage is nondeterministic between jobs;
* exports are immutable versioned dirs (`out_dir/v<k>/shard=S/...`);
  the atomic `os.replace` of `_manifest.json` is the ONLY commit point,
  so a crash mid-export leaves the previous committed version fully
  intact and readable — the unreferenced new dir is swept by the next
  successful export;
* `export_training_shards` fingerprints the input (row count + content
  and doc_id checksum sums): re-running the same export over the same
  input is a no-op (crashed-driver retries).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, functions as F

from .dedup import token_hash32, tokens_expr


def shard_expr(id_col: str = "doc_id", n_shards: int = 64):
    """Deterministic shard id: first 8 hex chars of md5(doc_id) mod n —
    a pure row function (resume/cluster-size independent); the hash is
    `dedup.token_hash32`, the DuckDB-portable 32-bit md5 prefix."""
    return F.pmod(token_hash32(F.col(id_col).cast("string")),
                  F.lit(n_shards)).cast("int")


def shard_manifest(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   n_shards: int = 64) -> DataFrame:
    """→ (shard, n_docs, n_chars, checksum) — the lineage rollup a
    consumer verifies a delivered shard against. checksum = sum of each
    row's 32-bit sha256(text) prefix (order-independent)."""
    row_ck = F.conv(F.substring(F.sha2(F.col(text_col), 256), 1, 8),
                    16, 10).cast("long")
    return (docs
            .select(shard_expr(id_col, n_shards).alias("shard"),
                    F.length(text_col).cast("long").alias("_chars"),
                    row_ck.alias("_ck"))
            .groupBy("shard")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("_chars").alias("n_chars"),
                 F.sum("_ck").alias("checksum")))


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest.json")


def _read_manifest(out_dir: str) -> dict | None:
    p = _manifest_path(out_dir)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def export_data_dir(out_dir: str) -> str:
    """The committed version's data dir — what a consumer reads."""
    m = _read_manifest(out_dir)
    if m is None:
        raise FileNotFoundError(f"no committed export at {out_dir}")
    return os.path.join(out_dir, f"v{int(m['version'])}")


def _input_fingerprint(docs: DataFrame, text_col: str, id_col: str,
                       n_shards: int) -> dict:
    """One global aggregate over the input: identity for the idempotent
    skip (row count, content checksum sum, doc_id checksum sum — the id
    term catches re-numbered ids over identical texts, which changes
    shard membership) plus null counts so a bad input fails loudly
    instead of writing rows into a shard=NULL partition."""
    row_ck = F.conv(F.substring(F.sha2(F.col(text_col), 256), 1, 8),
                    16, 10).cast("long")
    r = docs.agg(
        F.count("*").alias("n"),
        F.sum(row_ck).alias("text_ck"),
        F.sum(token_hash32(F.col(id_col).cast("string"))).alias("id_ck"),
        F.sum(F.when(F.col(text_col).isNull(), 1).otherwise(0))
        .alias("null_texts"),
        F.sum(F.when(F.col(id_col).isNull(), 1).otherwise(0))
        .alias("null_ids")).collect()[0]
    if r["null_ids"] or r["null_texts"]:
        raise ValueError(
            f"export_training_shards: {int(r['null_ids'] or 0)} null "
            f"{id_col} / {int(r['null_texts'] or 0)} null {text_col} "
            f"rows in the input")
    return {"n_rows": int(r["n"] or 0),
            "text_ck": int(r["text_ck"] or 0),
            "id_ck": int(r["id_ck"] or 0), "n_shards": int(n_shards)}


def export_training_shards(docs: DataFrame, out_dir: str,
                           text_col: str = "text", id_col: str = "doc_id",
                           n_shards: int = 64) -> dict:
    """Write `docs` as shard-partitioned parquet under a fresh immutable
    version dir (`out_dir/v<k>/shard=S/...`) with per-row sha256
    lineage, then commit by atomically replacing `out_dir/_manifest.json`
    (per-shard counts + checksums computed from the WRITTEN files, input
    fingerprint, version pointer). A crash anywhere before the commit
    leaves the previous committed export untouched; the orphan version
    dir is swept by the next successful export. Idempotent: a re-run
    whose input fingerprint matches the committed manifest is skipped.
    Returns the manifest dict."""
    fingerprint = _input_fingerprint(docs, text_col, id_col, n_shards)
    prev = _read_manifest(out_dir)
    if prev is not None and prev.get("fingerprint") == fingerprint:
        return {**prev, "skipped": True}
    version = (int(prev["version"]) + 1) if prev is not None else 1
    data_dir = os.path.join(out_dir, f"v{version}")
    out = (docs
           .withColumn("shard", shard_expr(id_col, n_shards))
           .withColumn("sha256", F.sha2(F.col(text_col), 256)))
    out.write.mode("overwrite").partitionBy("shard").parquet(data_dir)
    # manifest FROM the written files: manifest == disk by construction
    spark = docs.sparkSession
    if fingerprint["n_rows"] > 0:
        written = (spark.read.parquet(data_dir)
                   .select("shard",
                           F.length(text_col).cast("long").alias("_chars"),
                           F.conv(F.substring(F.sha2(F.col(text_col), 256),
                                              1, 8), 16, 10)
                           .cast("long").alias("_ck"))
                   .groupBy("shard")
                   .agg(F.count("*").alias("n_docs"),
                        F.sum("_chars").alias("n_chars"),
                        F.sum("_ck").alias("checksum")))
        shards = [r.asDict() for r in written.orderBy("shard").collect()]
    else:
        shards = []          # empty corpus: committed, zero shards
    manifest = {"version": version, "fingerprint": fingerprint,
                "shards": shards,
                "n_docs": sum(s["n_docs"] for s in shards)}
    tmp = _manifest_path(out_dir) + ".tmp"
    with open(tmp, "w") as f:
        f.write(json.dumps(manifest))
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, _manifest_path(out_dir))     # THE commit point
    for d in os.listdir(out_dir):                # sweep superseded/orphans
        if d.startswith("v") and d[1:].isdigit() and int(d[1:]) != version:
            shutil.rmtree(os.path.join(out_dir, d), ignore_errors=True)
    return {**manifest, "skipped": False}


def verify_shards(spark, out_dir: str, text_col: str = "text") -> DataFrame:
    """Recompute the per-shard rollup from the WRITTEN files — sha256
    recomputed from the text bytes, not trusted from the stored lineage
    column — and diff it against the committed manifest → (shard, ok,
    n_docs, want_n_docs, checksum, want_checksum). A consumer's
    integrity check: any row with ok=false means the shard on disk no
    longer matches what the export committed; a missing or extraneous
    shard is ok=false too (never NULL)."""
    manifest = _read_manifest(out_dir)
    if manifest is None:
        raise FileNotFoundError(f"no committed export at {out_dir}")
    want = spark.createDataFrame(
        [(int(s["shard"]), int(s["n_docs"]), int(s["n_chars"]),
          int(s["checksum"])) for s in manifest["shards"]],
        "shard int, want_n_docs long, want_n_chars long, want_checksum long")
    data_dir = os.path.join(out_dir, f"v{int(manifest['version'])}")
    empty = not any(d.startswith("shard=")
                    for d in (os.listdir(data_dir)
                              if os.path.isdir(data_dir) else []))
    if empty:
        # nothing on disk: every manifest shard is a failure; an empty
        # committed export verifies clean (no rows at all)
        got = spark.createDataFrame(
            [], "shard int, n_docs long, n_chars long, checksum long")
    else:
        got = (spark.read.parquet(data_dir)
               .select("shard",
                       F.length(text_col).cast("long").alias("_chars"),
                       F.conv(F.substring(F.sha2(F.col(text_col), 256),
                                          1, 8), 16, 10)
                       .cast("long").alias("_ck"))
               .groupBy("shard")
               .agg(F.count("*").alias("n_docs"),
                    F.sum("_chars").alias("n_chars"),
                    F.sum("_ck").alias("checksum")))
    # no broadcast hint: full-outer cannot broadcast-hash, and the
    # manifest side is n_shards rows regardless
    return (got.join(want, "shard", "full_outer")
            .withColumn("ok", F.coalesce(
                (F.col("n_docs") == F.col("want_n_docs"))
                & (F.col("n_chars") == F.col("want_n_chars"))
                & (F.col("checksum") == F.col("want_checksum")),
                F.lit(False)))
            .select("shard", "ok", "n_docs", "want_n_docs",
                    "checksum", "want_checksum"))


def pack_sequences(docs: DataFrame, seq_len: int = 2048,
                   text_col: str = "text", id_col: str = "doc_id",
                   id_block: int = 4096) -> DataFrame:
    """Training-sequence packing → (doc_id, n_tokens, tok_start,
    seq_first, seq_last) for every doc: the GPT-style layout where the
    id-ordered corpus is one concatenated token stream and training
    examples are consecutive `seq_len`-token windows (documents cross
    sequence boundaries; a separator-token variant is `n_tokens + 1` on
    the caller's side). `tok_start` is the doc's 0-based offset in the
    stream; `seq_first`/`seq_last` the sequence ids it lands in (-1 for
    token-free docs, which occupy no window).

    The global running sum is a DISTRIBUTED prefix sum, not a
    one-partition window: docs bucket by the monotone key
    `doc_id // id_block` (dense ids → balanced blocks), one map-side
    combined groupBy produces per-block token totals, the block-offset
    running sum is a window over BLOCK-COUNT rows (corpus/id_block —
    thousands, not billions), offsets broadcast back, and the
    within-block cumsum is a window partitioned by block (bounded
    state). Total: one small agg + one broadcast join + one bucketed
    window — no corpus-sized single-partition stage anywhere. The
    layout is a pure function of (doc_id, n_tokens): re-runs, resumes,
    and different partitionings emit identical offsets (the export-side
    determinism contract), and a DuckDB oracle replays it as a plain
    global window cumsum."""
    from pyspark.sql import Window

    d = (docs.select(F.col(id_col).cast("long").alias("doc_id"),
                     F.size(tokens_expr(text_col)).cast("long")
                     .alias("n_tokens"))
         .withColumn("_b", F.floor(F.col("doc_id") / id_block)))
    bsum = d.groupBy("_b").agg(F.sum("n_tokens").alias("_bn"))
    wb = (Window.orderBy("_b")
          .rowsBetween(Window.unboundedPreceding, -1))
    boff = bsum.select(
        "_b", F.coalesce(F.sum("_bn").over(wb), F.lit(0)).alias("_boff"))
    wd = (Window.partitionBy("_b").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1))
    start = (F.col("_boff")
             + F.coalesce(F.sum("n_tokens").over(wd), F.lit(0)))
    out = (d.join(F.broadcast(boff), "_b")
           .withColumn("tok_start", start.cast("long")))
    n = F.col("n_tokens")
    first = F.when(n > 0, F.floor(F.col("tok_start") / seq_len)) \
        .otherwise(F.lit(-1)).cast("long")
    last = F.when(n > 0, F.floor((F.col("tok_start") + n - 1) / seq_len)) \
        .otherwise(F.lit(-1)).cast("long")
    return out.select("doc_id", "n_tokens", "tok_start",
                      first.alias("seq_first"), last.alias("seq_last"))
