"""Scheme-agnostic small-file I/O for index sidecars and journals.

The ANN lifecycle keeps three kinds of driver-side state next to its
parquet layouts: sidecar metadata json (`_ann_meta.json`,
`_ivf_meta.json`, `_ivfpq_meta.json`), the generation journal
(`_ann_manifest.jsonl`), and existence probes (bootstrap-vs-append).
Spark itself reads and writes the parquet through the Hadoop
FileSystem API, so it accepts any configured scheme — but the sidecar
I/O used to be plain `open()`/`os.path`, which forced the whole store
onto the driver's local disk. This module routes those operations by
path shape:

* a BARE path (no `scheme://`) keeps the existing POSIX implementation
  — including `indexer.segments.journal_append`'s O_APPEND + fsync
  jsonl protocol, whose crash-isolation guarantees are the strongest
  available on a local filesystem;
* a URI (`file://`, `hdfs://`, `s3a://`, ...) goes through the active
  session's Hadoop FileSystem (`Path.getFileSystem(hadoopConf)`), the
  exact same client Spark's own reads and writes use. `file://` takes
  this branch on purpose: it exercises the real Hadoop code path under
  pytest with no cluster in the loop.

Journals on Hadoop-routed stores use an ENTRY-PER-FILE protocol
instead of jsonl appends, because append() is unsupported on object
stores (S3A) and on Hadoop's checksummed LocalFileSystem: each entry
is one json file `<seq 10-digit>-<nonce>.json` inside
`<journal>.d/`, written to a `.tmp` name and renamed into place
(rename is atomic on HDFS; on object stores the object appears only
complete). Readers list the directory and sort by file name, so entry
order is (seq, nonce) — two racing appenders that compute the same
seq write distinct files and agree on the winner after re-listing,
which is exactly the property `_ann_append`'s claim protocol needs.
Undecodable or `.tmp` files are crash debris and are skipped with a
warning, mirroring `journal_read`'s torn-line semantics. A legacy
jsonl file at the journal path is merged in FIRST (migration read:
its entries predate any entry-per-file writes).

Known cost on object stores: an entry-per-file journal read is one
LIST plus one GET per entry, so manifest reads are O(entries) remote
round-trips (the jsonl protocol is one read). Journals grow two
entries per append; keep them short by compacting on a cadence
(`compact_ann_index` retires generations; a journal roll-up — fold
closed entries into one snapshot file — is the natural extension if a
deployment's append rate ever makes the LIST+GET fan-out the
bottleneck before compaction does its job).
"""

from __future__ import annotations

import json
import os
import re
import uuid
import warnings

__all__ = [
    "has_scheme", "local_part", "exists", "is_dir", "read_text",
    "write_text", "journal_read", "journal_append",
]


_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:/")


def has_scheme(path: str) -> bool:
    """True for URI-style paths — both `scheme://...` and the
    single-slash `scheme:/...` form Hadoop's `Path.toString()` emits.
    A relative POSIX path may hold a colon (`a:b/journal`); without the
    `:/` it is a local path, not a URI."""
    return bool(_SCHEME_RE.match(path))


def local_part(path: str) -> str:
    """The os-level path of a `file:` URI (other paths unchanged).
    Handles `file:///p`, `file:/p`, and `file://localhost/p`; a
    file URI with a REMOTE authority has no local part and raises."""
    if not path.startswith("file:"):
        return path
    from urllib.parse import urlparse
    u = urlparse(path)
    if u.netloc not in ("", "localhost"):
        raise ValueError(
            f"file URI with remote authority has no local path: {path!r}")
    return u.path or "/"


def _fs(path: str):
    from pyspark.sql import SparkSession
    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            f"hfs: remote-path I/O on {path!r} needs an active "
            "SparkSession (the Hadoop FileSystem client lives in its "
            "JVM)")
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(conf), jpath, jvm


def exists(path: str) -> bool:
    if not has_scheme(path):
        return os.path.exists(path)
    fs, p, _ = _fs(path)
    return bool(fs.exists(p))


def is_dir(path: str) -> bool:
    if not has_scheme(path):
        return os.path.isdir(path)
    fs, p, _ = _fs(path)
    return bool(fs.exists(p) and fs.getFileStatus(p).isDirectory())


def read_text(path: str) -> str:
    if not has_scheme(path):
        with open(path) as f:
            return f.read()
    fs, p, jvm = _fs(path)
    ins = fs.open(p)
    try:
        bos = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(ins, bos, 65536, False)
        return bytes(bos.toByteArray()).decode("utf-8")
    finally:
        ins.close()


def write_text(path: str, text: str) -> None:
    """Create/overwrite a small file. Hadoop-routed writes go to a
    `.tmp` sibling and rename into place so readers never observe a
    partial file (the meta jsons are overwrite-in-place commit points
    for bootstrap). The rename is tried first, so where it replaces the
    target (POSIX, `file:`) the target never goes missing; only a
    failed rename (HDFS does not overwrite) deletes the old file and
    retries."""
    if not has_scheme(path):
        with open(path, "w") as f:
            f.write(text)
        return
    fs, p, jvm = _fs(path)
    tmp = jvm.org.apache.hadoop.fs.Path(path + f".{uuid.uuid4().hex}.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    if not fs.rename(tmp, p):
        fs.delete(p, False)
        if not fs.rename(tmp, p):
            fs.delete(tmp, False)
            raise OSError(f"hfs: rename {tmp} -> {path} failed")


def _journal_dir(journal_path: str) -> str:
    return journal_path + ".d"


def _list_dir(path: str) -> list[str]:
    """Sorted child names of a directory, [] if absent — `os` for bare
    paths, Hadoop listStatus for URIs."""
    if not has_scheme(path):
        if not os.path.isdir(path):
            return []
        return sorted(os.listdir(path))
    fs, p, _ = _fs(path)
    if not fs.exists(p):
        return []
    return sorted(st.getPath().getName() for st in fs.listStatus(p))


def journal_read(journal_path: str) -> list[dict]:
    """Merge BOTH journal representations so a store reads identically
    through either path style: the jsonl file first (bare-path appends,
    and any pre-URI history), then the entry-per-file dir sorted by
    file name = (seq, nonce) commit order. Single writer per store —
    ordering across the two sources only matters for concurrent
    same-gen claim races, which never span styles under that
    contract."""
    out: list[dict] = []
    if not has_scheme(journal_path):
        from .indexer.segments import journal_read as jr
        out.extend(jr(journal_path))
    elif exists(journal_path):
        for i, ln in enumerate(read_text(journal_path).splitlines()):
            if not ln.strip():
                continue
            try:
                out.append(json.loads(ln))
            except json.JSONDecodeError:
                warnings.warn(
                    f"hfs.journal_read: skipping undecodable line "
                    f"{i + 1} of {journal_path}")
    d = _journal_dir(journal_path)
    for name in _list_dir(d):
        if not name.endswith(".json"):     # .tmp = crash debris
            continue
        try:
            out.append(json.loads(read_text(d + "/" + name)))
        except (json.JSONDecodeError, OSError):
            warnings.warn(
                f"hfs.journal_read: skipping undecodable entry "
                f"{name} of {d} (crash debris, or corruption of a "
                f"committed entry)")
    return out


def journal_append(journal_path: str, *entries: dict) -> None:
    """Bare paths → `segments.journal_append` (O_APPEND + fsync).
    URIs → one file per entry: next seq from a directory listing,
    `.tmp` write + rename commit. Two racers computing the same seq
    write distinct nonce-suffixed files; name order arbitrates — the
    caller-side claim protocol (`_ann_append`) re-reads and keeps the
    first, identical to the jsonl O_APPEND arbitration."""
    if not has_scheme(journal_path):
        from .indexer.segments import journal_append as ja
        ja(journal_path, *entries)
        return
    d = _journal_dir(journal_path)
    fs, p, jvm = _fs(d)
    fs.mkdirs(p)
    names = [st.getPath().getName() for st in fs.listStatus(p)]
    seq = 0
    for n in names:
        head = n.split("-", 1)[0]
        if head.isdigit():
            seq = max(seq, int(head))
    for e in entries:
        seq += 1
        write_text(d + f"/{seq:010d}-{uuid.uuid4().hex}.json",
                   json.dumps(e))
