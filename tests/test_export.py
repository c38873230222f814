"""Training-corpus export sink (pipeline.export): deterministic shard
membership, order-independent lineage checksums, versioned atomic
publish (a crash never damages the committed export), idempotent
re-runs, and the consumer-side integrity check."""

import os

import pytest
from pyspark.sql import functions as F

from search_engines_spark.pipeline import export as ex


def _docs(spark, n=100):
    return spark.createDataFrame(
        [(i, f"doc body {i} " * (1 + i % 5)) for i in range(n)],
        "doc_id long, text string")


def test_shard_assignment_deterministic(spark):
    d = _docs(spark)
    a = {r["doc_id"]: r["s"] for r in
         d.select("doc_id", ex.shard_expr(n_shards=8).alias("s")).collect()}
    b = {r["doc_id"]: r["s"] for r in
         d.repartition(7).select(
             "doc_id", ex.shard_expr(n_shards=8).alias("s")).collect()}
    assert a == b and set(a.values()) <= set(range(8))
    assert len(set(a.values())) > 1          # actually spreads


def test_export_roundtrip_and_verify(spark, tmp_path):
    d = _docs(spark)
    out = str(tmp_path / "shards")
    m = ex.export_training_shards(d, out, n_shards=8)
    assert not m["skipped"] and m["n_docs"] == 100 and m["version"] == 1
    assert sum(s["n_docs"] for s in m["shards"]) == 100
    # written rows carry the sha256 lineage column and round-trip
    back = spark.read.parquet(ex.export_data_dir(out))
    assert back.count() == 100
    row = back.limit(1).collect()[0]
    import hashlib
    assert row["sha256"] == hashlib.sha256(
        row["text"].encode()).hexdigest()
    # consumer-side integrity check: everything ok, and the documented
    # predicate ("any row with ok=false") is the one that works
    v = ex.verify_shards(spark, out)
    assert v.where("ok = false").count() == 0
    assert v.where("ok = true").count() == len(m["shards"])
    # idempotent re-run: fingerprint matches → skipped, version stable
    m2 = ex.export_training_shards(d, out, n_shards=8)
    assert m2["skipped"] and m2["version"] == 1
    # different input → NOT skipped; new version; old dir swept
    m3 = ex.export_training_shards(d.where("doc_id < 50"), out, n_shards=8)
    assert not m3["skipped"] and m3["n_docs"] == 50 and m3["version"] == 2
    assert not os.path.isdir(os.path.join(out, "v1"))
    assert ex.verify_shards(spark, out).where("ok = false").count() == 0


def test_verify_flags_missing_shard_and_tampered_text(spark, tmp_path):
    import shutil
    d = _docs(spark)
    out = str(tmp_path / "shards2")
    m = ex.export_training_shards(d, out, n_shards=4)
    data = ex.export_data_dir(out)
    # (a) whole shard deleted → ok must be EXACTLY false, never NULL
    victim = m["shards"][0]["shard"]
    shutil.rmtree(os.path.join(data, f"shard={victim}"))
    v = ex.verify_shards(spark, out)
    assert {r["shard"] for r in v.where("ok = false").collect()} == {victim}
    assert v.where("ok = true").count() == len(m["shards"]) - 1
    # (b) text content tampered IN PLACE, same length, stored sha256
    # left stale — must still be flagged (sha256 is recomputed)
    surviv = m["shards"][1]["shard"]
    sdir = os.path.join(data, f"shard={surviv}")
    rows = spark.read.parquet(sdir).collect()
    tampered = [(r["doc_id"], "X" * len(r["text"]), r["sha256"])
                for r in rows]
    forged = spark.createDataFrame(
        tampered, "doc_id long, text string, sha256 string")
    shutil.rmtree(sdir)
    forged.write.parquet(sdir)
    bad = {r["shard"] for r in ex.verify_shards(spark, out)
           .where("ok = false").collect()}
    assert bad == {victim, surviv}


def test_crash_before_commit_preserves_previous_export(spark, tmp_path,
                                                       monkeypatch):
    """The manifest replace is the only commit point: a crash anywhere
    before it (here: during the replace itself) leaves the previous
    version fully readable and verifying clean; the retry publishes."""
    d = _docs(spark)
    out = str(tmp_path / "shards3")
    m1 = ex.export_training_shards(d, out, n_shards=4)
    want = sorted((s["shard"], s["checksum"]) for s in m1["shards"])
    real_replace = os.replace

    def boom(src, dst):
        raise RuntimeError("injected crash at commit")

    monkeypatch.setattr(os, "replace", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        ex.export_training_shards(d.where("doc_id < 30"), out, n_shards=4)
    monkeypatch.setattr(os, "replace", real_replace)
    # old export untouched and clean
    m = ex._read_manifest(out)
    assert m["version"] == 1
    assert sorted((s["shard"], s["checksum"]) for s in m["shards"]) == want
    assert ex.verify_shards(spark, out).where("ok = false").count() == 0
    # retry succeeds, supersedes v1, sweeps the orphan
    m2 = ex.export_training_shards(d.where("doc_id < 30"), out, n_shards=4)
    assert not m2["skipped"] and m2["version"] == 2 and m2["n_docs"] == 30
    assert ex.verify_shards(spark, out).where("ok = false").count() == 0
    assert not os.path.isdir(os.path.join(out, "v1"))


def test_fingerprint_sees_doc_id_renumbering(spark, tmp_path):
    """Same texts, renumbered doc_ids = different shard membership →
    must NOT be skipped as an idempotent retry."""
    out = str(tmp_path / "shards4")
    a = spark.createDataFrame(
        [(i, f"body {i % 10}") for i in range(40)], "doc_id long, text string")
    b = a.withColumn("doc_id", F.col("doc_id") + 1000)
    ex.export_training_shards(a, out, n_shards=4)
    m = ex.export_training_shards(b, out, n_shards=4)
    assert not m["skipped"] and m["version"] == 2


def test_export_rejects_null_rows(spark, tmp_path):
    out = str(tmp_path / "shards5")
    null_text = spark.createDataFrame(
        [(1, "ok"), (2, None)], "doc_id long, text string")
    null_id = spark.createDataFrame(
        [(1, "ok"), (None, "x")], "doc_id long, text string")
    for bad in (null_text, null_id):
        with pytest.raises(ValueError, match="null"):
            ex.export_training_shards(bad, out, n_shards=4)
    assert ex._read_manifest(out) is None      # nothing committed


def test_empty_corpus_exports_and_verifies_clean(spark, tmp_path):
    out = str(tmp_path / "shards6")
    d = _docs(spark).where("doc_id < 0")
    m = ex.export_training_shards(d, out, n_shards=4)
    assert not m["skipped"] and m["n_docs"] == 0 and m["shards"] == []
    v = ex.verify_shards(spark, out)
    assert v.count() == 0


# ---- training-sequence packing ----------------------------------------------

def test_pack_sequences_matches_python_reference(spark):
    """Exact replay in plain Python: id-ordered cumsum of token counts,
    window ids by integer division, -1 for token-free docs."""
    rows = [(0, "a b c"), (1, ""), (2, "d e f g h"), (3, None),
            (4, "i j"), (5, "k " * 10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.tok_start, r.seq_first, r.seq_last)
           for r in ex.pack_sequences(docs, seq_len=4,
                                      id_block=2).collect()}
    off = 0
    for i, t in rows:
        n = len([w for w in (t or "").lower().split() if w])
        first = off // 4 if n else -1
        last = (off + n - 1) // 4 if n else -1
        assert got[i] == (n, off, first, last), i
        off += n


def test_pack_sequences_block_invariant_and_gappy_ids(spark):
    """The distributed prefix sum must be invariant to the id_block
    choice (1 per block, mixed, one giant block) and to gaps in the id
    space — the layout is a pure function of (doc_id, n_tokens)."""
    rows = [(5, "one two three"), (900, "four five"),
            (1_000_001, "six seven eight nine"), (7, "ten")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    base = sorted(map(tuple, ex.pack_sequences(
        docs, seq_len=3, id_block=1).collect()))
    for blk in (3, 1_000_000_000):
        other = sorted(map(tuple, ex.pack_sequences(
            docs, seq_len=3, id_block=blk).collect()))
        assert other == base, blk
    got = {r[0]: r for r in base}
    # id order: 5 (3 toks), 7 (1), 900 (2), 1000001 (4)
    assert got[5][2] == 0 and got[7][2] == 3 and got[900][2] == 4
    assert got[1_000_001][2] == 6


PACK_SEQ_LEN = 128
PACK_ID_BLOCK = 64

# pack_sequences replayed as the plain global window cumsum the
# distributed prefix sum must equal (same order key, same exclusive frame)
PACK_SQL = f"""WITH pd AS (
  SELECT doc_id::BIGINT AS doc_id,
         len(list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                                               '[^a-z0-9]+'),
                         t -> t <> ''))::BIGINT AS n_tokens
  FROM documents),
po AS (SELECT doc_id, n_tokens,
              coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0)::BIGINT AS tok_start
       FROM pd)
SELECT doc_id, n_tokens, tok_start,
       (CASE WHEN n_tokens > 0 THEN floor(tok_start / {PACK_SEQ_LEN})
             ELSE -1 END)::BIGINT AS seq_first,
       (CASE WHEN n_tokens > 0
             THEN floor((tok_start + n_tokens - 1) / {PACK_SEQ_LEN})
             ELSE -1 END)::BIGINT AS seq_last
FROM po"""


def test_pack_sequences_entry_oracle_parity(spark):
    import duckdb

    rows = [(i, ("tok " * (1 + i % 7)) if i % 11 else None, "en", "s")
            for i in range(150)]
    sdf = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string")
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR, "
                "lang VARCHAR, source VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?)", rows)
    got = ex.pack_sequences(sdf, seq_len=PACK_SEQ_LEN,
                            id_block=PACK_ID_BLOCK).toPandas()
    want = con.execute(PACK_SQL).fetchdf()
    got = got[sorted(got.columns)].sort_values(
        by=sorted(got.columns), ignore_index=True)
    want = want[sorted(want.columns)].sort_values(
        by=sorted(want.columns), ignore_index=True)
    assert len(got) == len(want) == 150
    assert got.astype(str).equals(want.astype(str))
