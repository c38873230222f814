"""Scheme-agnostic index I/O (`search_engines_spark.hfs`).

`file://` URIs deliberately take the Hadoop FileSystem branch (the
same client an hdfs:// or s3a:// store would use), so these tests
exercise the real remote-store code path — entry-per-file journal,
rename-committed writes — with no cluster in the loop.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pytest

from search_engines_spark import hfs


def test_path_helpers():
    assert hfs.has_scheme("hdfs://nn/a/b")
    assert hfs.has_scheme("file:///tmp/x")
    assert hfs.has_scheme("file:/tmp/x")     # Hadoop Path.toString() form
    assert hfs.has_scheme("s3a://bucket/k")
    assert not hfs.has_scheme("/tmp/x")
    assert not hfs.has_scheme("rel/path")
    assert hfs.local_part("file:///tmp/x") == "/tmp/x"
    assert hfs.local_part("file:/tmp/x") == "/tmp/x"
    assert hfs.local_part("file://localhost/tmp/x") == "/tmp/x"
    assert hfs.local_part("/tmp/x") == "/tmp/x"
    with pytest.raises(ValueError, match="remote authority"):
        hfs.local_part("file://otherhost/tmp/x")


def test_relative_path_with_colon_stays_local(tmp_path, monkeypatch):
    """A relative path holding a colon (`a:b/journal`) is a local path:
    its journal is the jsonl file the POSIX branch writes, and no
    Hadoop FileSystem (no Spark session) is needed to read it back."""
    assert not hfs.has_scheme("a:b/journal")
    assert not hfs.has_scheme("a:b")
    monkeypatch.chdir(tmp_path)
    os.mkdir("a:b")
    hfs.journal_append("a:b/journal", {"gen": 1}, {"gen": 2})
    assert os.path.isfile(tmp_path / "a:b" / "journal")
    assert hfs.journal_read("a:b/journal") == [{"gen": 1}, {"gen": 2}]
    hfs.write_text("a:b/meta.json", "{}")
    assert hfs.exists("a:b/meta.json")
    assert hfs.read_text("a:b/meta.json") == "{}"


def test_single_slash_file_uri_roundtrip(spark, tmp_path):
    """file:/p (no //) must route through the Hadoop branch like
    file:///p — previously it fell into the POSIX branch and open()'d
    the literal 'file:/p' string."""
    uri = f"file:{tmp_path}/meta.json"
    hfs.write_text(uri, "x")
    assert hfs.exists(uri)
    assert hfs.read_text(uri) == "x"
    assert (tmp_path / "meta.json").read_text() == "x"


def test_read_write_exists_roundtrip(spark, tmp_path):
    uri = f"file://{tmp_path}/meta.json"
    assert not hfs.exists(uri)
    hfs.write_text(uri, json.dumps({"a": 1}))
    assert hfs.exists(uri)
    assert json.loads(hfs.read_text(uri)) == {"a": 1}
    # overwrite goes through the tmp+rename commit, leaving no `.tmp`
    # sibling behind
    hfs.write_text(uri, json.dumps({"a": 2}))
    assert json.loads(hfs.read_text(uri)) == {"a": 2}
    assert not [n for n in os.listdir(tmp_path) if ".tmp" in n]
    # plain-os view agrees (same bytes on disk)
    assert json.loads(open(tmp_path / "meta.json").read()) == {"a": 2}
    assert hfs.is_dir(f"file://{tmp_path}")
    assert not hfs.is_dir(uri)


def test_write_text_overwrite_when_rename_refuses(monkeypatch):
    """HDFS-style rename refuses an existing target: write_text then
    deletes the old file and renames again; a rename that still fails
    drops the `.tmp` file and raises."""
    from types import SimpleNamespace

    class FakeFS:
        def __init__(self, files, fail=False):
            self.files, self.fail = files, fail

        def create(self, p, _overwrite):
            files = self.files
            return SimpleNamespace(
                write=lambda b: files.__setitem__(p, bytes(b)),
                close=lambda: None)

        def rename(self, src, dst):
            if self.fail or dst in self.files:
                return False
            self.files[dst] = self.files.pop(src)
            return True

        def delete(self, p, _recursive):
            return self.files.pop(p, None) is not None

    jvm = SimpleNamespace(org=SimpleNamespace(apache=SimpleNamespace(
        hadoop=SimpleNamespace(fs=SimpleNamespace(Path=str)))))
    files = {"hdfs://nn/m.json": b"old"}
    fs = FakeFS(files)
    monkeypatch.setattr(hfs, "_fs", lambda p: (fs, p, jvm))
    hfs.write_text("hdfs://nn/m.json", "new")
    assert files == {"hdfs://nn/m.json": b"new"}
    fs.fail = True
    with pytest.raises(OSError, match="rename"):
        hfs.write_text("hdfs://nn/m.json", "newer")
    assert files == {}


def test_journal_uri_append_read_order(spark, tmp_path):
    j = f"file://{tmp_path}/idx/_ann_manifest.jsonl"
    assert hfs.journal_read(j) == []
    hfs.journal_append(j, {"claim": 1, "nonce": "n1"})
    hfs.journal_append(j, {"gen": 1}, {"claim": 2, "nonce": "n2"})
    assert hfs.journal_read(j) == [
        {"claim": 1, "nonce": "n1"}, {"gen": 1},
        {"claim": 2, "nonce": "n2"}]
    # entry files are seq-ordered json files in the .d dir (ignore
    # LocalFileSystem's .crc checksum sidecars)
    d = tmp_path / "idx" / "_ann_manifest.jsonl.d"
    names = sorted(n for n in os.listdir(d) if n.endswith(".json"))
    assert [n[:10] for n in names] == ["0000000001", "0000000002",
                                      "0000000003"]


def test_journal_uri_skips_debris(spark, tmp_path):
    j = f"file://{tmp_path}/idx/_ann_manifest.jsonl"
    hfs.journal_append(j, {"gen": 1})
    d = tmp_path / "idx" / "_ann_manifest.jsonl.d"
    # crash debris: an unrenamed tmp and a corrupt committed-looking file
    (d / "0000000002-deadbeef.json.123.tmp").write_text('{"gen":')
    (d / "0000000002-deadbeef.json").write_text('{"gen":')
    with pytest.warns(UserWarning, match="undecodable entry"):
        got = hfs.journal_read(j)
    assert got == [{"gen": 1}]


def test_journal_readable_through_either_path_style(spark, tmp_path):
    """A store written via URI must read identically via its bare
    path (the compaction unwrap), and vice versa — jsonl entries come
    first, then the entry dir."""
    bare = str(tmp_path / "idx" / "_ann_manifest.jsonl")
    os.makedirs(tmp_path / "idx")
    uri = "file://" + bare
    hfs.journal_append(bare, {"gen": 1})        # POSIX jsonl
    hfs.journal_append(uri, {"gen": 2})         # entry-per-file
    assert hfs.journal_read(bare) == [{"gen": 1}, {"gen": 2}]
    assert hfs.journal_read(uri) == [{"gen": 1}, {"gen": 2}]


def test_ann_stream_file_uri_end_to_end(spark, tmp_path_factory):
    """VERDICT r4 item 6: `start_ann_stream` accepts a scheme'd
    index_path; bootstrap-vs-append, meta json, and the generation
    journal ride the Hadoop FS client, and merged reads through
    `ivfpq_topk_indexed` (also via URI) equal a from-scratch batch
    build over the union."""
    from search_engines_spark.pipeline.similarity import (
        ivfpq_topk_indexed, write_ivfpq_index)
    from search_engines_spark.streaming.ann import start_ann_stream

    rs = np.random.RandomState(33)
    centers = rs.randn(4, 16) * 4
    rows = [(i, [float(x) for x in centers[i % 4] + rs.randn(16) * 0.1])
            for i in range(80)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    src = str(tmp_path_factory.mktemp("hfs_ann_src"))
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
    idx_local = str(tmp_path_factory.mktemp("hfs_ann_idx"))
    idx_uri = "file://" + idx_local
    ckpt = str(tmp_path_factory.mktemp("hfs_ann_ckpt"))
    q = start_ann_stream(spark, src, idx_uri, ckpt, n_cells=4, m=4,
                         k_codes=8, max_files_per_trigger=1)
    q.awaitTermination(120)
    # the journal took the entry-per-file protocol (no jsonl append)
    assert os.path.isdir(
        os.path.join(idx_local, "_ann_manifest.jsonl.d"))
    assert not os.path.exists(
        os.path.join(idx_local, "_ann_manifest.jsonl"))
    qvec = rows[2][1]
    streamed = [(r["vec_id"], r["dist_r"]) for r in ivfpq_topk_indexed(
        spark, idx_uri, qvec, k=15, nprobe=2).collect()]
    assert any(v >= 50 for v, _ in streamed)   # both batches reachable
    batch_idx = str(tmp_path_factory.mktemp("hfs_ann_batch"))
    write_ivfpq_index(emb, batch_idx, n_cells=4, m=4, k_codes=8)
    batch = [(r["vec_id"], r["dist_r"]) for r in ivfpq_topk_indexed(
        spark, batch_idx, qvec, k=15, nprobe=2).collect()]
    assert streamed == batch


def test_compact_rejects_truly_remote_uri(spark, tmp_path):
    from search_engines_spark.pipeline.similarity import compact_ann_index
    with pytest.raises(NotImplementedError, match="local-only"):
        compact_ann_index(spark, "hdfs://nn/warehouse/ann")


def test_lsh_index_lifecycle_file_uri(spark, tmp_path_factory):
    """write_ann_index + append_ann_index + lsh_ann_indexed through a
    file:// URI must equal the same lifecycle on a bare local path
    (frozen planes; merged generation read via the Hadoop branch)."""
    from search_engines_spark.pipeline.similarity import (
        append_ann_index, lsh_ann_indexed, write_ann_index)

    rs = np.random.RandomState(44)
    rows = [(i, [float(x) for x in rs.randn(12)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = emb.where("vec_id < 40")
    delta = emb.where("vec_id >= 40")
    qvec = rows[5][1]

    local = str(tmp_path_factory.mktemp("lsh_local"))
    write_ann_index(base, local)
    append_ann_index(delta, local)
    want = [(r["vec_id"], r["cos_r"]) for r in
            lsh_ann_indexed(spark, local, qvec, k=10).collect()]

    uri = "file://" + str(tmp_path_factory.mktemp("lsh_uri"))
    write_ann_index(base, uri)
    append_ann_index(delta, uri)
    got = [(r["vec_id"], r["cos_r"]) for r in
           lsh_ann_indexed(spark, uri, qvec, k=10).collect()]
    assert got == want
    # and the URI store reads identically through its bare path
    got2 = [(r["vec_id"], r["cos_r"]) for r in
            lsh_ann_indexed(spark, hfs.local_part(uri), qvec,
                            k=10).collect()]
    assert got2 == want


def test_ivf_index_lifecycle_file_uri(spark, tmp_path_factory):
    from search_engines_spark.pipeline.similarity import (
        append_ivf_index, ivf_topk_indexed, write_ivf_index)

    rs = np.random.RandomState(45)
    rows = [(i, [float(x) for x in rs.randn(12)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = emb.where("vec_id < 40")
    delta = emb.where("vec_id >= 40")
    qvec = rows[7][1]

    local = str(tmp_path_factory.mktemp("ivf_local"))
    write_ivf_index(base, local, n_cells=4)
    append_ivf_index(delta, local)
    want = [(r["vec_id"], r["cos_r"]) for r in
            ivf_topk_indexed(spark, local, qvec, k=10, nprobe=2).collect()]

    uri = "file://" + str(tmp_path_factory.mktemp("ivf_uri"))
    write_ivf_index(base, uri, n_cells=4)
    append_ivf_index(delta, uri)
    got = [(r["vec_id"], r["cos_r"]) for r in
           ivf_topk_indexed(spark, uri, qvec, k=10, nprobe=2).collect()]
    assert got == want
