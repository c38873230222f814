"""The benchmark's workloads.

Each workload has a set-up step (repeated; the benchmark reports its
median), a *pass* — the unit of work the timed loop repeats a fixed
number of times — and a correctness check that runs after the loop,
outside every timed interval. Every call into the engine goes through
`Run.op`, which times it and, in the traced pass, wraps it in a layer
span.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from . import gen
from .spans import Tracer

K = 100
FIELD = "body"


@dataclass
class Pass:
    wall: float = 0.0
    query_lat: list[float] = field(default_factory=list)  # s per query
    query_s: float = 0.0      # time spent answering queries
    n_queries: int = 0


@dataclass
class Run:
    spark: object
    seed: int
    work_dir: str
    tracer: Tracer
    attempted: int = 0
    failed: int = 0
    op_log: list[tuple[str, float]] = field(default_factory=list)

    def op(self, layer: str, fn, weight: int = 1):
        """→ (result or None, seconds). `weight` operations are counted
        as attempted; an exception fails all of them."""
        self.attempted += weight
        t0 = time.perf_counter()
        try:
            with self.tracer.span(layer):
                out = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += weight
            out = None
        secs = time.perf_counter() - t0
        self.op_log.append((layer, secs))
        return out, secs

    def fail(self, n: int, what: str) -> None:
        if n:
            print(f"CHECK FAILED: {what} ({n})", file=sys.stderr)
            self.failed += n


def ranked(rows) -> dict[str, list[tuple[int, float]]]:
    """search_many-shaped rows → {qid: [(doc_id, score)] by rank}."""
    out: dict[str, list] = {}
    for r in rows:
        out.setdefault(r["qid"], []).append((r["rank"], r["doc_id"], r["score"]))
    return {q: [(d, s) for _, d, s in sorted(v)] for q, v in out.items()}


def rankings_match(a, b, tol: float = 1e-9) -> bool:
    """Same docIDs in the same order and scores within `tol`. Two docs
    whose scores lie within `tol` of each other may swap places, since
    a different summation order can flip such a near-tie."""
    if len(a) != len(b):
        return False
    for (da, sa), (db, sb) in zip(a, b):
        if abs(sa - sb) > tol:
            return False
        if da != db and not any(d == da and abs(s - sa) <= tol for d, s in b):
            # the doc may also have fallen out of a near-tie at rank k
            if abs(sa - b[-1][1]) > tol:
                return False
    return True


def build_index(spark, texts: list[str], lo: int = 0):
    """Documents-table corpus → persisted, materialised Index."""
    from search_engines_spark.indexer.build import (
        build_index_frames, docs_from_documents_table)
    pdf = pd.DataFrame({"doc_id": np.arange(lo, lo + len(texts)),
                        "text": texts})
    idx = build_index_frames(docs_from_documents_table(
        spark.createDataFrame(pdf)), extid_docid_fmt="doc:9")
    return idx, idx.postings.count()


def drop_index(idx) -> None:
    for df in (idx.postings, idx.doclens, idx.doc_map):
        df.unpersist()


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class Workload:
    """Shared set-up: generate the corpus, build and persist the index."""

    name = ""
    n_docs = 0
    passes = 1    # steady passes in the timed loop

    def __init__(self, run: Run):
        self.run = run
        self.spark = run.spark
        self.idx = None
        self.n_postings = 0
        self.prep_s = 0.0
        self.texts: list[str] = []
        self.build_s: list[float] = []
        self.layers: dict[str, float] = {}

    def setup(self) -> None:
        self.texts = gen.zipf_corpus(self.run.seed, self.n_docs)
        if self.idx is not None:
            drop_index(self.idx)
        t0 = time.perf_counter()
        self.idx, self.n_postings = build_index(self.spark, self.texts)
        self.build_s.append(time.perf_counter() - t0)

    def finish_setup(self) -> None:
        """Set-up work done once, after the repeated set-up runs; its
        time goes to `prep_s`."""

    @property
    def text_bytes(self) -> int:
        return sum(len(t) for t in self.texts)

    def sizes(self) -> dict:
        return {"docs": self.n_docs, "postings": self.n_postings,
                "text_bytes": self.text_bytes}

    def probes(self) -> None:
        """Traced-run-only measurements outside the traced pass."""


class Interactive(Workload):
    """Single queries, one at a time, over the persisted index."""

    name = "interactive"
    n_docs = 2000
    passes = 1

    def __init__(self, run: Run):
        super().__init__(run)
        self.stream = gen.InteractiveStream(run.seed)
        self.answers: dict[tuple[str, str], list] = {}
        self.ops: Counter = Counter()

    def setup(self) -> None:
        from search_engines_spark.engine.compile import Engine
        super().setup()
        self.engines = {m: Engine(self.idx, m)
                        for m in ("bm25", "indri", "rankedboolean")}

    def run_pass(self) -> Pass:
        from search_engines_spark.oracle import DEFAULT_OPS
        run, tr, p = self.run, self.run.tracer, Pass()
        t_pass = time.perf_counter()
        for model, q in self.stream.next_pass():
            eng = self.engines[model]
            t0 = time.perf_counter()
            if tr.recording:
                # the parser alone, then Engine.parse (parser + term
                # statistics prefetch); Engine.search then finds the
                # statistics cached, so total work is unchanged
                with tr.span("parser"):
                    eng.parser.parse(q, default_op=DEFAULT_OPS[model])
                with tr.span("engine.parse"):
                    eng.parse(q)
            df, _ = run.op("engine.compile.plan", lambda: eng.search(q, k=K))
            rows = None
            if df is not None:
                rows, _ = run.op("spark.collect", df.collect, weight=0)
                if rows is None:
                    run.fail(1, f"collect of {model} {q!r} raised")
            lat = time.perf_counter() - t0
            p.query_lat.append(lat)
            p.query_s += lat
            p.n_queries += 1
            key = (model, q)
            got = None if rows is None else [(r["doc_id"], r["score"])
                                             for r in rows]
            self.ops[key] += 1
            if key not in self.answers:
                self.answers[key] = got
            elif got is not None and not rankings_match(got, self.answers[key]):
                run.fail(1, f"repeat of {model} {q!r} changed its answer")
        p.wall = time.perf_counter() - t_pass
        return p

    def check(self) -> None:
        """Every distinct query against the pure-Python oracle over the
        same corpus: docIDs exact, scores within 1e-9."""
        from search_engines_spark.oracle import Models, OracleIndex, run_query
        oidx = OracleIndex()
        for i, text in enumerate(self.texts):
            oidx.add(i, gen.ext_id(i), {FIELD: text})
        oidx.finalize()
        for (model, q), got in self.answers.items():
            if got is None:
                continue   # already counted as failed
            want = [(d, s) for d, _, s in
                    run_query(q, oidx, model, Models(), k=K)]
            if not rankings_match(got, want):
                self.run.fail(self.ops[(model, q)],
                              f"{model} {q!r} differs from the oracle")


class Batch(Workload):
    """Query files over a persisted index and over a segment store that
    goes through an index lifecycle.

    Set-up builds the index, then the store: segments over the first
    90% of the docs, the last 10% appended as a live delta generation,
    1% of all docs tombstoned. A pass runs three query files: BM25 and
    Indri through `search_many` over the persisted index, bag-of-words
    through `search_daat_many` over the merged store (base ∪ delta,
    minus tombstones), which reads compressed blocks from disk every
    time. The traced run adds a fourth file, mostly structured queries
    through `search_segments_many` over the store, then compacts the
    store and reruns both store files."""

    name = "batch"
    n_docs = 4000
    passes = 1
    buckets = 8
    delta_share = 0.1
    delete_share = 0.01

    def __init__(self, run: Run):
        super().__init__(run)
        self.files = gen.query_files(run.seed, n_bm25=12, n_indri=12,
                                     n_daat=12, n_struct=2)
        rng = np.random.default_rng([run.seed, 5])
        self.deleted = sorted(rng.choice(
            self.n_docs, round(self.n_docs * self.delete_share),
            replace=False).tolist())
        self.first: dict[str, dict] = {}
        self.store = os.path.join(run.work_dir, "store")

    def finish_setup(self) -> None:
        """The store's writes, once, after the index set-up runs."""
        from search_engines_spark.engine.compile import Engine
        from search_engines_spark.indexer import merge
        from search_engines_spark.indexer.segments import build_segments
        run, idx, B, L = self.run, self.idx, self.buckets, self.layers
        n_base = round(self.n_docs * (1 - self.delta_share))
        p = idx.postings
        shutil.rmtree(self.store, ignore_errors=True)
        built, L["indexer.segments.build_s"] = run.op(
            "indexer.segments.build", lambda: build_segments(
                p.where(p.doc_id < n_base), idx.doclens, self.store,
                num_buckets=B, chunk=B))
        L["indexer.segments.bytes"] = dir_bytes(self.store)
        app, L["indexer.merge.append_s"] = run.op(
            "indexer.merge.append", lambda: merge.append_segments(
                p.where(p.doc_id >= n_base), self.store, B))
        _, L["indexer.merge.delete_s"] = run.op(
            "indexer.merge.delete",
            lambda: merge.delete_docs(run.spark, self.store, self.deleted))
        L["indexer.merge.live_generations"] = len(
            merge.live_generations(self.store))
        self.prep_s = sum(L[k] for k in ("indexer.segments.build_s",
                                         "indexer.merge.append_s",
                                         "indexer.merge.delete_s"))
        want = p.where(p.doc_id < n_base).count()
        run.fail(int((built or {}).get("postings") != want)
                 + int((app or {}).get("postings") != self.n_postings - want),
                 "segment or delta posting counts are wrong")
        self.bm25 = Engine(idx, "bm25")
        self.bm25.attach_segments(self.store, B)
        self.indri = Engine(idx, "indri")

    def calls(self):
        f, bm25, indri = self.files, self.bm25, self.indri
        return (
            ("bm25", "engine.search_many.bm25",
             lambda: bm25.search_many(f["bm25"], k=K).collect()),
            ("indri", "engine.search_many.indri",
             lambda: indri.search_many(f["indri"], k=K).collect()),
            ("daat", "engine.daat.batch",
             lambda: bm25.search_daat_many(f["daat"], k=K).collect()),
        )

    def struct_call(self):
        return self.run.op(
            "engine.segments_many.struct",
            lambda: self.bm25.search_segments_many(self.files["struct"],
                                                   k=K).collect(),
            weight=len(self.files["struct"]))

    def run_pass(self) -> Pass:
        p = Pass()
        t_pass = time.perf_counter()
        for name, layer, fn in self.calls():
            n = len(self.files[name])
            rows, secs = self.run.op(layer, fn, weight=n)
            p.query_lat.append(secs / n)
            p.query_s += secs
            p.n_queries += n
            if name == "daat" and name not in self.first:
                self.layers["engine.daat.fresh_s"] = secs
            if rows is None:
                continue
            got = ranked(rows)
            if name not in self.first:
                self.first[name] = got
            else:   # every later pass must give the first pass's answers
                self._compare(got, self.first[name], self.files[name],
                              f"{name} answers changed between passes")
        p.wall = time.perf_counter() - t_pass
        return p

    def _compare(self, got: dict, want: dict, qids, what: str) -> None:
        self.run.fail(sum(not rankings_match(got.get(q, []), want.get(q, []))
                          for q in qids), what)

    def check(self) -> None:
        """The store answers equal search_many's over the index with the
        tombstones excluded — for bag-of-words queries through both
        search_daat_many and search_segments_many — and no tombstoned
        doc is returned. Later passes were compared with the first as
        they ran; the structured file runs in the traced run only."""
        f, spark = self.files, self.spark
        tomb = spark.createDataFrame([(d,) for d in self.deleted],
                                     "doc_id long")
        want = ranked(self.bm25.search_many({**f["daat"], **f["struct"]},
                                            k=K, exclude_docs=tomb).collect())
        for name, route in (("daat", "search_daat_many"),
                            ("struct", "search_segments_many")):
            if name in self.first:
                self._compare(self.first[name], want, f[name],
                              f"{route} differs from search_many")
        dead = set(self.deleted)
        self.run.fail(sum(any(d in dead for d, _ in v)
                          for name in ("daat", "struct")
                          for v in self.first.get(name, {}).values()),
                      "a tombstoned doc was returned")

    def probes(self) -> None:
        """The structured file off the store (a cold call, then the
        timed warm one), decode and blocks read for the store files'
        terms, then the compaction, after which both store files must
        give their earlier answers."""
        from search_engines_spark.indexer import merge
        from search_engines_spark.indexer.merge import read_segments_merged
        from search_engines_spark.indexer.segments import decode_to_postings
        spark, tr, L = self.spark, self.run.tracer, self.layers
        B = self.buckets
        rows, _ = self.struct_call()
        if rows is not None:
            self.first["struct"] = ranked(rows)
        _, L["engine.segments_many.struct_s"] = self.struct_call()
        struct_terms = sorted({t for q in self.files["struct"].values()
                               for t in q.split() if t.startswith("t")})
        daat_terms = sorted({t for q in self.files["daat"].values()
                             for t in q.split()})
        t0 = time.perf_counter()
        with tr.span("indexer.segments.decode"):
            decode_to_postings(read_segments_merged(
                spark, self.store, terms=struct_terms, num_buckets=B)).count()
        L["indexer.segments.decode_s"] = time.perf_counter() - t0
        L["indexer.segments.blocks_read"] = read_segments_merged(
            spark, self.store, terms=sorted(set(daat_terms) | set(struct_terms)),
            num_buckets=B).count()
        delta = os.path.join(self.store, "_delta")
        touched = {b for g in os.listdir(delta)
                   for b in os.listdir(os.path.join(delta, g))
                   if b.startswith("bucket=")}
        _, L["indexer.merge.compact_s"] = self.run.op(
            "indexer.merge.compact", lambda: merge.compact_segments(
                spark, self.store, B, chunk=B))
        L["indexer.merge.bytes_rewritten"] = sum(
            dir_bytes(os.path.join(self.store, b)) for b in touched)
        L["indexer.segments.bytes_per_text_byte"] = (
            dir_bytes(self.store) / self.text_bytes)
        _, layer, fn = self.calls()[2]
        after = {"daat": self.run.op(layer, fn,
                                     weight=len(self.files["daat"]))[0],
                 "struct": self.struct_call()[0]}
        for name, rows in after.items():
            if rows is not None:
                self._compare(ranked(rows), self.first.get(name, {}),
                              self.files[name],
                              f"compaction changed {name} answers")


WORKLOADS = {w.name: w for w in (Interactive, Batch)}
