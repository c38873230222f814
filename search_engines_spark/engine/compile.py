"""AST → DataFrame plan compiler: the Spark-native replacement for the
reference's document-at-a-time evaluator (`QryEval.java:421-445`).

The DAAT iterator machinery (`Qry.java:248-364`) is NOT ported (SURVEY.md
§2.4): matchAll intersection = inner join, matchMin = union/outer join,
lazy scoring = inner-join semantics, full-sort-truncate = orderBy().limit()
(Spark's TakeOrderedAndProject does per-partition top-k + merge).

One statistics round trip per search call at most: the term-leaf (df,
ctf) prefetch (`_prefetch_stats`, one scan of the persisted term_stats
table for the union of a call's uncached leaves — `parse_many` parses a
whole query file first), after which leaf statistics are literals. The
batch paths cache derived-arm statistics the same way (`_arm_stats_of`:
one grouped collect over the persisted zipper frame when a call brings
an arm not seen before), so a call that repeats runs no statistics job.
Everything else is plan-internal: the per-query plan's derived df/ctf
(`QrySopScore.java:96`, `InvList.java:166-167`) are global window
aggregates over the derived list, so the zipper that produced it runs
once; Indri default scores (`QrySopAnd.java:86-94`) become SQL
expressions over doclen + those ctf values on the matchMin candidate
frame, with doclen carried from the candidates' own posting rows.
Global corpus stats (N, doc_count, sum_len per field — a handful of
longs) are collected once at index build.

Query-file set-up adds no driver action of its own. The batch paths'
per-call query tables are JVM-local `VALUES` relations
(`literals.local_frame`) that plan as LocalTableScan, not Python-RDD
stages, and the segment readers declare their schemas and constant-fold
their bucket filters (`indexer.segments.read_segments`). A steady
`search_many` or `search_daat_many` call therefore runs only the jobs of
its result.

The batch paths plan from SQL expression strings. Every filter, score,
default-score map and rank/ext_id projection of `search_many` and
`search_daat_many` is one `where` / `selectExpr` / `F.expr` string
with its literals written by `literals` (`str_lit`, `double_lit`,
`sql_in`); DataFrame calls remain only where the plan has structure
(scans, joins, unions, groupBy, the Arrow stages). In classic PySpark
each `Column` the driver builds is a Py4J round trip, so a tree of
`F.lit` / `F.struct` / `isin` Columns cost one per literal, and the
planning of a query file grew with its terms and arms; a string costs
one whatever its size, and Catalyst resolves it to the same plan.
"""

from __future__ import annotations

from collections.abc import Iterable
from contextlib import contextmanager
from functools import cached_property, reduce

from pyspark.sql import DataFrame, functions as F

from ..analysis import Analyzer, CANONICAL
from ..indexer.build import Index
from ..literals import double_lit as _d, local_frame, sql_in, str_lit as _q
from ..oracle import DEFAULT_OPS, Models
from ..parser import Node, QueryParser
from .proximity import near_frame, syn_frame, window_frame


class Engine:
    def __init__(self, index: Index, model: str = "bm25",
                 params: Models | None = None,
                 analyzer: Analyzer = CANONICAL,
                 default_field: str = "body"):
        if model not in DEFAULT_OPS:
            raise ValueError(f"unknown retrieval model {model!r}")
        self.index = index
        self.model = model
        self.p = params or Models()
        self.parser = QueryParser(analyzer, default_field=default_field)
        self._iop_cache: dict[int, tuple[Node, DataFrame]] = {}
        self._leaf_stats: dict[tuple[str, str], tuple[int, int]] = {}
        # (field, spec) → (df, ctf) of the batch paths' derived arms over
        # this engine's postings; the attached store's decoded postings
        # keep their own cache (`_store_arm_stats`)
        self._arm_stats: dict[tuple[str, object], tuple[int, int]] = {}
        self._persisted: list[DataFrame] = []   # last search_many's frames

    # ------------------------------------------------------------- public --

    def parse(self, qstring: str) -> Node:
        return self.parse_many([qstring])[0]

    def parse_many(self, qstrings: Iterable[str]) -> list[Node]:
        """Parse a query file, then fetch (df, ctf) for the uncached
        term leaves of ALL its queries in one collect — per-query
        prefetches would cost one Spark job each."""
        nodes = [self.parser.parse(q, default_op=DEFAULT_OPS[self.model])
                 for q in qstrings]
        self._prefetch_stats([leaf for n in nodes
                              for leaf in self._term_leaves(n)])
        return nodes

    def _prefetch_stats(self, leaves: list[Node]) -> None:
        """Batch-fetch (df, ctf) for every uncached term leaf in ONE
        collect over the persisted term_stats table — per-leaf lookups
        would cost one scheduler round-trip each on a cluster."""
        missing = {(n.term, n.field) for n in leaves
                   if (n.term, n.field) not in self._leaf_stats}
        if not missing:
            return
        terms = sorted({t for t, _ in missing})
        rows = (self.index.term_stats.where(sql_in("term", terms))
                .select("term", "field", "df", "ctf").collect())
        found = {(r["term"], r["field"]): (r["df"], r["ctf"]) for r in rows}
        for key in missing:
            self._leaf_stats[key] = found.get(key, (0, 0))

    def search(self, qstring: str, k: int = 100) -> DataFrame:
        """→ (doc_id, ext_id, score) top-k, score desc / ext_id asc
        (`ScoreList.java:87-114`, truncate `QryEval.java:748-752`)."""
        node = self.parse(qstring)
        with self._plan_scope():
            s = self.eval_sop(node).where(F.col("score") >= 0)  # QryEval.java:437
        ext = self._extid_sql()
        if ext is not None:
            # ext_id is order-isomorphic to doc_id (Index.extid_docid_fmt):
            # the ScoreList tie-break runs on doc_id and ext_id becomes a
            # projection — top-k never touches the corpus-sized doc_map
            return (s.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
                    .selectExpr("doc_id", f"{ext} AS ext_id", "score"))
        res = s.join(self._doc_map(), "doc_id")
        return (res.orderBy(F.desc("score"), F.asc("ext_id")).limit(k)
                .select("doc_id", "ext_id", "score"))

    @contextmanager
    def _plan_scope(self):
        """Scope the Iop plan cache to one search call: entries are keyed
        by AST node and hold that query's frames (and so their JVM
        plans), which a long-lived engine must not accumulate. The lazy
        frames a call returns keep their own plans."""
        try:
            yield
        finally:
            self._iop_cache.clear()

    def close(self) -> None:
        """Release the frames the last `search_many` call persisted (its
        batched zipper outputs); the next call does this by itself."""
        self._release(self._persisted, keep=[])
        self._persisted = []

    @staticmethod
    def _release(frames: list[DataFrame], keep: list[DataFrame]) -> None:
        """Unpersist `frames`, except those with the plan of a frame in
        `keep`: identical plans share one cache entry, so a repeated
        batch keeps its materialized zipper output. Blocking: the block
        removal finishes before the call returns instead of running
        alongside the caller's next job."""
        for df in frames:
            if not any(df.sameSemantics(k) for k in keep):
                df.unpersist(blocking=True)

    def attach_segments(self, seg_dir: str, num_buckets: int = 32,
                        as_of: int | None = None) -> None:
        """Point the engine at a compressed segment store
        (indexer.segments) for `search_daat_many` and
        `search_segments_many`. `as_of=G` pins every segment read to the
        store's snapshot at generation G (appends and deletions after G
        are invisible — indexer.merge time travel); history reaches back
        to the compaction floor.

        Derived-arm statistics that `search_segments_many` reads off the
        store are cached per attachment: attach again after appending
        to the store to have them recomputed."""
        self._seg_dir = seg_dir
        self._seg_buckets = num_buckets
        self._seg_as_of = as_of
        self._store_arm_stats: dict[tuple[str, object], tuple[int, int]] = {}

    def search_daat_many(self, queries: dict[str, str],
                         k: int = 100) -> DataFrame:
        """Bag-of-words BM25 top-k for a query file (one query is a file
        of one) over the attached segment store in ONE segments pass:
        document-at-a-time scoring with block-max pruning
        (engine.daat.bm25_wand_topk_many — shared block decode,
        per-query pruning), ranked by `daat.rank_topk`. Requires
        `attach_segments`, model == 'bm25', bag-of-words #SUM queries
        and one field for the whole batch; the reference loops queries
        one-by-one (`QryEval.java:684`). Exact — rank-identical to
        `search` up to the doc_id-vs-ext_id tie-break.
        → (qid, doc_id, ext_id, score, rank ≤ k), tie-break doc_id asc
        (see daat module docstring for the ext_id-coincidence argument)."""
        from .daat import bm25_wand_topk_many, rank_topk
        if self.model != "bm25":
            raise ValueError("search_daat_many is the BM25 fast path")
        bags: dict[str, dict[str, int]] = {}
        fields: set[str] = set()
        for qid, node in zip(queries, self.parse_many(queries.values())):
            bow = self._bow_of(node)
            if bow is None:
                raise ValueError(
                    f"search_daat_many handles bag-of-words #SUM only; "
                    f"query {qid!r} has structured operators")
            fields |= {f for _, f in bow}
            # one field per batch (checked below): {term: multiplicity}
            bags[qid] = {t: m for (t, _), m in bow.items()}
        if len(fields) > 1:
            raise ValueError(f"search_daat_many needs a single field, "
                             f"got {fields}")
        field = next(iter(fields)) if fields else "body"
        terms = sorted({t for m in bags.values() for t in m})
        stats = {t: self._stats_of(Node("term", term=t, field=field))
                 for t in terms}
        st = self.index.stats_for(field)
        segs, deleted = self._attached_store(terms)
        top = rank_topk(bm25_wand_topk_many(
            segs, bags, stats, st["n_docs"],
            st["sum_len"] / st["doc_count"], k=k, params=self.p,
            field=field, deleted=deleted), k)
        ext = self._extid_sql()
        if ext is None:
            top, ext = top.join(self._doc_map(), "doc_id"), "ext_id"
        return top.selectExpr("qid", "doc_id", f"{ext} AS ext_id", "score",
                              "rank")

    def _attached_store(self, terms: list[str], decode: bool = False):
        """→ (segments, deleted) of the attached store for `terms`: the
        merged read, base ∪ the live delta generations appended since
        the last compaction (indexer.merge), pinned to `as_of`; and the
        tombstone mask as a lazy `doc_id` frame (None when nothing is
        deleted). Deleted docs are masked at score time while stats stay
        full-corpus until a purging merge — Lucene liveDocs/docFreq
        semantics. decode=True returns, in place of the segments, an
        Engine of this one's model and parser whose postings are the
        decoded blocks (indexer.segments.decode_to_postings), so every
        compiled plan runs off the store unchanged. It shares this
        engine's leaf statistics (the same term_stats table) and the
        store's derived-arm cache, so it fetches no statistic twice."""
        import dataclasses

        from ..indexer.merge import deleted_docs_df, read_segments_merged
        from ..indexer.segments import decode_to_postings
        if not hasattr(self, "_seg_dir"):
            raise ValueError("no segment store attached; call attach_segments")
        spark = self.index.docs.sparkSession
        segs = read_segments_merged(spark, self._seg_dir, terms=terms,
                                    num_buckets=self._seg_buckets,
                                    as_of=self._seg_as_of)
        deleted = deleted_docs_df(spark, self._seg_dir,
                                  as_of=self._seg_as_of)
        if not decode:
            return segs, deleted
        sub = dataclasses.replace(self.index,
                                  postings=decode_to_postings(segs))
        eng = Engine(sub, self.model, params=self.p,
                     analyzer=self.parser.analyzer,
                     default_field=self.parser.default_field)
        eng._leaf_stats = self._leaf_stats
        eng._arm_stats = self._store_arm_stats
        return eng, deleted

    def search_segments_many(self, queries: dict[str, str],
                             k: int = 100) -> DataFrame:
        """The FULL query language (Boolean / Indri / BM25, structured
        `#NEAR/#WINDOW/#SYN/#WSUM/#WAND` included) for a query file over
        the attached compressed segment store: decode the UNION of all
        queries' terms ONCE (bucket-pruned scan, one Arrow decode stage)
        back to the logical postings shape
        (indexer.segments.decode_to_postings — the `InvList.java:107-145`
        materialization analog) and answer the whole batch through
        `search_many`'s one-plan paths against the decoded sub-index.
        Identical results to `search` over the uncompressed index.
        Tombstoned docs are excluded from the RESULTS, not from the
        decoded postings, so every statistic — leaf df/ctf (term_stats
        table) AND derived-list df recomputed from `#NEAR/#WINDOW/#SYN`
        output (`InvList.java:166-167`, quirk: BM25 scores a derived list
        with its own df, `QrySopScore.java:96`) — stays full-corpus,
        matching `search_daat_many`'s docFreq-includes-deletes masking.
        The mask anti-joins the scored candidates INSIDE the batched
        plan, before the per-query row_number/limit — fetch depth stays
        k no matter how many deletes are pending.
        → (qid, doc_id, ext_id, score, rank ≤ k)."""
        terms = sorted({n.term
                        for node in self.parse_many(queries.values())
                        for n in self._term_leaves(node)})
        eng, deleted = self._attached_store(terms, decode=True)
        # the throwaway engine releases our last call's frames and leaves
        # its own for our next call (or close) to release
        eng._persisted = self._persisted
        out = eng.search_many(queries, k=k, exclude_docs=deleted)
        self._persisted = eng._persisted
        return out

    def _term_leaves(self, node: Node) -> list[Node]:
        if node.op == "term":
            return [node]
        out = []
        for a in node.args:
            out.extend(self._term_leaves(a))
        return out

    def _doc_map(self) -> DataFrame:
        """Persisted (doc_id, ext_id) projection when the index has one
        (avoids re-deriving the docs frame on every query)."""
        if self.index.doc_map is not None:
            return self.index.doc_map
        return self.index.docs.select("doc_id", "ext_id")

    def _extid_sql(self) -> str | None:
        """ext_id as a pure doc_id SQL expression when the index declares
        `extid_docid_fmt` ("prefix:width" → concat(prefix, lpad(doc_id,
        width, '0')), order-isomorphic to doc_id) — the top-k paths then
        skip the doc_map join entirely; None = join resolution."""
        fmt = self.index.extid_docid_fmt
        if not fmt:
            return None
        prefix, width = fmt.rsplit(":", 1)
        return (f"concat({_q(prefix)}, "
                f"lpad(CAST(doc_id AS STRING), {int(width)}, '0'))")

    def search_many(self, queries: dict[str, str], k: int = 100,
                    exclude_docs: DataFrame | None = None) -> DataFrame:
        """Batch: → (qid, doc_id, ext_id, score, rank ≤ k) for all queries
        in one plan (the reference loops queries sequentially,
        `QryEval.java:684`).

        BM25 #SUM queries — bag-of-words AND structured (SDM-style
        proximity arms) — take single-pass plans whose stage count is
        constant in the query count (the union-of-per-query-plans shape
        is scheduler-bound: measured flat 8→32 cores on a 200k-doc
        corpus, because each query arm adds stages, not data
        parallelism):
        * term arms: ONE broadcast (qid, term, mult, df) table joined
          against ONE postings scan, then groupBy(qid, doc_id);
        * proximity arms (#NEAR/#WINDOW/#SYN subtrees): ONE batched
          postings pass + ONE Arrow kernel stage evaluating every arm
          (engine.batch_structured), each arm's derived df riding a
          broadcast (qid, arm_id, mult, df) table;
        * both scored frames are unioned and aggregated ONCE.

        Flat Indri queries (`#AND/#WAND/#WSUM` over plain term arms, one
        field) take their own single-pass plan (_indri_batch_frame): the
        matchMin candidate set and present-term scores come from ONE
        broadcast-joined postings pass, and the missing-term default
        scores (`QrySopAnd.java:86-94`) collapse into a closed-form
        column over doclen (see the frame's docstring) — no per-query
        outer joins. Flat boolean `#AND/#OR` queries batch the same way
        (_bool_batch_frame). Anything nested (combiners over combiners,
        proximity under Indri, mixed fields) keeps its per-query
        compiled plan and is unioned in.

        exclude_docs: optional (doc_id) frame anti-joined against the
        scored candidates BEFORE the per-query rank/limit (tombstone
        masking for the segment paths) — scores keep full-corpus stats,
        the excluded docs just never occupy a top-k slot."""
        held, self._persisted = self._persisted, []
        with self._plan_scope():
            out = self._search_many(queries, k, exclude_docs)
        self._release(held, keep=self._persisted)
        return out

    def _search_many(self, queries: dict[str, str], k: int,
                     exclude_docs: DataFrame | None) -> DataFrame:
        frames = []
        bow_rows: list[tuple] = []    # (qid, term, field, mult, df)
        prox_rows: list[tuple] = []   # (qid, arm_id, mult)
        arms: dict[int, tuple[str, object]] = {}     # arm_id → (field, spec)
        arm_ids: dict[tuple, int] = {}               # (field, spec) → arm_id
        indri_entries: list[tuple] = []   # (qid, mode, field, shares, zero)
        bool_entries: list[tuple] = []    # (qid, root, {(term, field)})
        nodes = self.parse_many(queries.values())
        for qid, node in zip(queries, nodes):
            if self.model == "bm25":
                split = self._split_arms(node)
                if split is not None:
                    bow, prox = split
                    for (term, fld), m in bow.items():
                        df_v, _ = self._leaf_stats[(term, fld)]
                        if df_v > 0:  # absent terms add nothing under #SUM
                            bow_rows.append((qid, term, fld, m, df_v))
                    for (fld, spec), m in prox.items():
                        if not self._spec_present(spec, fld):
                            continue   # provably empty derived list (OOV)
                        key = (fld, spec)
                        if key not in arm_ids:
                            arm_ids[key] = len(arm_ids)
                            arms[arm_ids[key]] = key
                        prox_rows.append((qid, arm_ids[key], m))
                    continue
            elif self.model == "indri" and (self.p.mu > 0 or self.p.lam > 0):
                # mu=lam=0 makes every smoothed probability 0 — the log
                # reformulation below would take log(0); that degenerate
                # configuration keeps the per-query linear-domain plan
                ent = self._indri_entry(qid, node)
                if ent is not None:
                    if ent[3] or ent[4]:   # ≥1 live arm ⇒ candidates exist
                        indri_entries.append(ent)
                    continue
            elif self.model in ("rankedboolean", "unrankedboolean"):
                ent = self._bool_entry(qid, node)
                if ent is not None:
                    bool_entries.append(ent)
                    continue
            frames.append(self.eval_sop(node).where("score >= 0")
                          .selectExpr("doc_id", "score", f"{_q(qid)} AS qid"))
        if indri_entries:
            frames.append(self._indri_batch_frame(indri_entries))
        if bool_entries:
            frames.append(self._bool_batch_frame(bool_entries))
        fast = []
        if bow_rows:
            fast.append(self._bow_batch_frame(bow_rows))
        if prox_rows:
            fast.append(self._prox_batch_frame(prox_rows, arms))
        if fast:
            # a query mixing term and proximity arms has per-arm scores
            # in both frames; #SUM is associative, so ONE aggregation
            # over their union sums every arm of a (qid, doc_id)
            frames.append(reduce(DataFrame.unionByName, fast)
                          .groupBy("qid", "doc_id")
                          .agg(F.expr("sum(score) AS score")))
        if not frames:
            # every query was bag-of-words with all terms OOV (df=0): no
            # arm contributes. Return the empty result shape instead of
            # crashing the reduce; the runner's trec writer emits the
            # per-qid dummy lines (`QryEval.java:790-795`) from all_qids.
            return local_frame(
                self.index.postings.sparkSession, [],
                "qid string, doc_id long, ext_id string, score double, "
                "rank int")
        u = reduce(lambda l, r: l.unionByName(r), frames)
        if exclude_docs is not None:
            u = u.join(F.broadcast(exclude_docs.select("doc_id")),
                       "doc_id", "left_anti")
        # with an ext_id expression the tie-break is on doc_id
        # (order-isomorphic, Index.extid_docid_fmt) and ext_id is
        # projected AFTER the per-query limit: the batch plan carries
        # k·|Q| ids to resolution, not every scored candidate
        ext, tie = self._extid_sql(), "doc_id"
        if ext is None:
            u = u.join(self._doc_map(), "doc_id")
            ext = tie = "ext_id"
        return (u.selectExpr("*", f"row_number() OVER (PARTITION BY qid "
                                  f"ORDER BY score DESC, {tie} ASC) AS rank")
                .where(f"rank <= {int(k)}")
                .selectExpr("qid", "doc_id", f"{ext} AS ext_id", "score",
                            "rank"))

    def _bow_of(self, node: Node) -> dict[tuple[str, str], int] | None:
        """{(term, field): multiplicity} when the tree is `#SUM` of plain
        term scores (or a single term score) — else None. A term repeated
        in the query contributes one #SCORE arm per occurrence
        (`QryEval.java:704-705` wraps; multiplicity folds them)."""
        split = self._split_arms(node)
        if split is None or split[1]:
            return None
        return split[0]

    def _split_arms(self, node: Node):
        """Decompose a BM25 `#SUM` tree (or single `#SCORE`) into its
        batched-fast-path components:

            ({(term, field): mult}, {(field, spec): mult})

        where spec is the picklable Iop tree of a proximity arm
        (batch_structured.spec_of). None when the tree has any other
        shape (boolean/Indri/weighted roots go per-query)."""
        from .batch_structured import spec_of
        arms = node.args if node.op == "sum" else [node]
        bow: dict[tuple[str, str], int] = {}
        prox: dict[tuple[str, object], int] = {}
        for a in arms:
            if a.op != "score":
                return None
            child = a.args[0]
            if child.op == "term":
                key = (child.term, child.field)
                bow[key] = bow.get(key, 0) + 1
            else:
                fields = {leaf.field for leaf in self._term_leaves(child)}
                if len(fields) != 1:
                    return None   # mixed-field Iop: keep the compiled plan
                pkey = (next(iter(fields)), spec_of(child))
                prox[pkey] = prox.get(pkey, 0) + 1
        return bow, prox

    def _spec_present(self, spec, field: str) -> bool:
        """False ⇒ the arm's derived list is provably empty from term df
        alone (matchAll over a df=0 leaf / all-OOV #SYN) — skip it before
        it reaches the scan."""
        if spec[0] == "term":
            return self._leaf_stats.get((spec[1], field), (0, 0))[0] > 0
        if spec[0] == "syn":
            return any(self._spec_present(c, field) for c in spec[2])
        return all(self._spec_present(c, field) for c in spec[2])

    def _prox_batch_frame(self, prox_rows: list[tuple],
                          arms: dict[int, tuple[str, object]]) -> DataFrame:
        """(qid, arm_id, mult) rows + arm specs → (qid, doc_id, score)
        per (qid, arm, doc), for `_search_many` to aggregate: every arm's
        derived posting list from ONE batched pass
        (batch_structured.arm_postings_frame), BM25 per (arm, doc) ×
        mult with the arm's own df (`QrySopScore.java:96` — a derived
        list is scored with its own df). The df rides the broadcast
        (qid, arm_id, mult, df) table, read from the engine's arm cache
        (`_arm_stats_of`), as term df rides the bag-of-words table.

        The zipped frame is persisted: on a first call it feeds both the
        arm-stats collect and the scoring join, and it is
        intersection-sized (≪ the scan), so caching beats re-running the
        Arrow stage. The next call (or `close`) releases it unless it
        re-persists the same plan."""
        from .batch_structured import arm_postings_frame
        spark = self.index.postings.sparkSession
        zipped = arm_postings_frame(self.index.postings, arms).persist()
        self._persisted.append(zipped)
        stats = self._arm_stats_of(zipped, arms)
        qa = local_frame(spark, [(qid, aid, m, stats[aid][0])
                                 for qid, aid, m in prox_rows],
                         "qid string, arm_id int, mult int, df long")
        j = zipped.join(F.broadcast(qa), "arm_id")
        fields = sorted({fld for fld, _ in arms.values()})
        return j.selectExpr("qid", "doc_id",
                            f"{self._bm25_field_sql(fields)} AS score")

    def _arm_stats_of(self, zipped: DataFrame,
                      arms: dict[int, tuple[str, object]]
                      ) -> dict[int, tuple[int, int]]:
        """arm_id → (df, ctf) of a batch's derived arms, from the
        engine's arm cache. A batch with an arm not cached yet fills the
        cache by ONE groupBy(arm_id) collect over the persisted zipped
        frame: a partial + final aggregate, so a hot arm's rows stay
        spread over every task (a window partitioned by arm_id would put
        them in one). An arm with no postings is (0, 0)."""
        if any(key not in self._arm_stats for key in arms.values()):
            rows = (zipped.groupBy("arm_id")
                    .agg(F.expr("count(1) AS df"), F.expr("sum(tf) AS ctf"))
                    .collect())
            got = {r["arm_id"]: (int(r["df"]), int(r["ctf"])) for r in rows}
            for aid, key in arms.items():
                self._arm_stats[key] = got.get(aid, (0, 0))
        return {aid: self._arm_stats[key] for aid, key in arms.items()}

    def _bow_batch_frame(self, bow_rows: list[tuple]) -> DataFrame:
        """(qid, term, field, mult, df) rows → (qid, doc_id, score) per
        (qid, term, doc), for `_search_many` to aggregate, via one
        postings pass: scan pruned by the union of all query terms
        (parquet row-group / cache-batch skipping), broadcast hash join
        (no postings shuffle), per-row BM25 as codegen'd arithmetic (df
        rides the broadcast side — no stats subqueries)."""
        spark = self.index.postings.sparkSession
        qt = local_frame(
            spark, bow_rows,
            "qid string, term string, field string, mult int, df long")
        terms = sorted({r[1] for r in bow_rows})
        fields = sorted({r[2] for r in bow_rows})
        p = self.index.postings.where(sql_in("term", terms))
        joined = p.join(F.broadcast(qt), ["term", "field"])
        return joined.selectExpr("qid", "doc_id",
                                 f"{self._bm25_field_sql(fields)} AS score")

    def _bm25_field_sql(self, fields: list[str]) -> str:
        """BM25 × mult over rows carrying tf, doclen, df, mult and
        field, as a SQL expression; per-field avglen differs, so a
        multi-field batch picks each row's formula by its field."""
        scores = {fld: f"{self._bm25_sql('df', self.index.stats_for(fld))}"
                       f" * mult" for fld in fields}
        if len(scores) == 1:
            return scores[fields[0]]
        cases = " ".join(f"WHEN field = {_q(fld)} THEN {s}"
                         for fld, s in scores.items())
        return f"coalesce(CASE {cases} END, 0.0D)"

    # -- Indri / boolean one-pass batch fast paths ------------------------------

    def _flat_model_arms(self, node: Node):
        """Root-level decomposition for the Indri/boolean batch fast
        paths: (root_op, [(term, field, weight), ...]) when the tree is
        ONE combiner over plain term #SCORE arms — None for nested
        combiners, proximity subtrees, or shapes the model can't batch.
        A bare single-term query returns root_op None (the caller picks
        the model's identity combiner: #AND-of-1 and #OR-of-1 both equal
        the term's own score)."""
        if node.op == "score":
            child = node.args[0]
            if child.op != "term":
                return None
            return (None, [(child.term, child.field, 1.0)])
        allowed = {"indri": ("and", "wand", "wsum"),
                   "rankedboolean": ("and", "or"),
                   "unrankedboolean": ("and", "or")}.get(self.model, ())
        if node.op not in allowed:
            return None
        if not all(a.op == "score" and a.args[0].op == "term"
                   for a in node.args):
            return None
        ws = (node.weights if node.op in ("wand", "wsum")
              else [1.0] * len(node.args))
        return (node.op, [(a.args[0].term, a.args[0].field, w)
                          for a, w in zip(node.args, ws)])

    def _indri_entry(self, qid: str, node: Node):
        """→ (qid, mode, field, {term: share}, {prox spec: share},
        zero_flag) for a flat Indri query — one combiner over #SCORE
        arms whose children are terms OR proximity subtrees
        (#NEAR/#WINDOW/#SYN, SDM shape). Duplicate arms fold by summing
        shares (exact under fp at any rounding the contract applies).
        None ⇒ per-query plan (nested combiners, mixed fields).

        zero_flag: a geo-combined arm with ctf=0 has p=0 for EVERY doc
        (`QrySopScore.java:140-161` with pmle=0), so the whole product is
        0 for every candidate — flagged instead of materialized (log(0)
        has no column form). ctf=0 arms under #WSUM contribute exactly 0
        and are simply dropped (their weight still counts in the
        normalizer, `QrySopWSum.java:52-70`). Proximity arms that are
        provably empty from leaf dfs get the same treatment here; arms
        that turn out empty at RUNTIME are resolved by the caller from
        the batched zipper stats (same rules, data-driven ctf)."""
        from .batch_structured import spec_of
        if node.op == "score":
            arms, root = [node], "and"
        elif node.op in ("and", "wand", "wsum"):
            arms, root = list(node.args), node.op
        else:
            return None
        if not all(a.op == "score" for a in arms):
            return None
        fields = {leaf.field for a in arms
                  for leaf in self._term_leaves(a.args[0])}
        if len(fields) != 1:
            return None   # per-field doclen defaults: keep compiled plan
        fld = next(iter(fields))
        ws = (node.weights if root in ("wand", "wsum")
              else [1.0] * len(arms))
        mode = "sum" if root == "wsum" else "geo"
        total_w = sum(ws)
        shares: dict[str, float] = {}
        prox: dict[object, float] = {}
        zero = False
        for a, w in zip(arms, ws):
            child = a.args[0]
            share = 1.0 / len(arms) if root == "and" else w / total_w
            if child.op == "term":
                if self._leaf_stats[(child.term, fld)][1] == 0:
                    if mode == "geo":
                        zero = True
                    continue
                shares[child.term] = shares.get(child.term, 0.0) + share
            else:
                spec = spec_of(child)
                if not self._spec_present(spec, fld):
                    if mode == "geo":
                        zero = True
                    continue
                prox[spec] = prox.get(spec, 0.0) + share
        return (qid, mode, fld, shares, prox, zero)

    def _bool_entry(self, qid: str, node: Node):
        """→ (qid, root, {(term, field)}) for a flat boolean query.
        OOV terms stay in the arm set: they can never appear in the
        postings join, which under #AND makes the required-count filter
        unsatisfiable (matchAll over an empty list ⇒ no results,
        `Qry.java:248-277`) and under #OR adds nothing — both exactly
        the per-query semantics, with no special casing."""
        flat = self._flat_model_arms(node)
        if flat is None:
            return None
        root, arms = flat
        return (qid, root or "or", {(t, f) for t, f, _ in arms})

    def _indri_batch_frame(self, entries: list[tuple]) -> DataFrame:
        """Flat-Indri batch: → (qid, doc_id, score) for every entry from
        ONE broadcast-joined postings pass + ONE aggregation — stage
        count constant in query count, mirroring the BM25 bow plan.
        Proximity arms (SDM shape) add ONE shared zipper pass
        (batch_structured.arm_postings_frame) and read their ctf from
        the engine's arm cache (one grouped collect for arms not seen
        before), after which a derived arm is literally a term arm with
        its own stats (`QrySopScore.java:96`).

        The per-query plan (_indri_combine) outer-joins one frame per
        arm to apply default scores to missing terms — per-QUERY stages.
        Here the default machinery collapses algebraically. With
        p_t(d) = (1-λ)(tf + μ·pmle_t)/(dl+μ) + λ·pmle_t and
        d_t(dl) = p_t with tf=0 (`QrySopScore.java:123-161`):

          geo (#AND/#WAND):  Π p_t^s_t
            = exp( Σ_present s_t·(ln p_t − ln d_t(dl))  ← postings pass
                 + Σ_all     s_t·ln d_t(dl) )           ← closed form in dl
          sum (#WSUM):       Σ s_t·p_t
            =      Σ_present s_t·(p_t − d_t(dl))
                 + Σ_all     s_t·d_t(dl)

        The Σ_all term needs only the query's (share, pmle) constants and
        the candidate's doclen — shipped as ONE literal map
        qid → array<struct<sh,pm>> and folded with F.aggregate: pure
        codegen, no join, no extra shuffle. matchMin candidates
        (`Qry.java:325-348`) fall out of the postings pass itself. exp∘ln
        vs the per-query linear pow product differs at ~1e-15 relative —
        far inside the contract's 1e-6 rounding and the golden gate's
        1e-9."""
        from .batch_structured import arm_postings_frame
        spark = self.index.postings.sparkSession

        # ---- proximity arms: ONE batched zipper pass for the whole
        # batch; derived ctf per arm comes from the engine's arm cache
        # (`_arm_stats_of`) as literals, so derived arms score and
        # default EXACTLY like term arms (`QrySopScore.java:96` — a
        # derived list carries its own stats)
        arm_ids: dict[tuple, int] = {}
        for _, _, fld, _, prox, _ in entries:
            for spec in prox:
                arm_ids.setdefault((fld, spec), len(arm_ids))
        zipped = None
        arm_ctf: dict[int, int] = {}
        if arm_ids:
            arms = {aid: key for key, aid in arm_ids.items()}
            zipped = arm_postings_frame(self.index.postings, arms).persist()
            self._persisted.append(zipped)
            arm_ctf = {aid: ctf for aid, (_, ctf)
                       in self._arm_stats_of(zipped, arms).items()}

        rows: list[tuple] = []       # (qid, term, field, share, pmle, geo)
        prox_rows: list[tuple] = []  # (arm_id, qid, share, pmle, geo)
        map_entries: list[str] = []  # "qid, array((sh, pm), ...)" per query
        geo_qids, zero_qids = [], []
        for qid, mode, fld, shares, prox, zero in entries:
            c = float(self.index.stats_for(fld)["sum_len"])
            if mode == "geo":
                geo_qids.append(qid)
            arr = []
            for term, share in shares.items():
                pmle = self._leaf_stats[(term, fld)][1] / c
                rows.append((qid, term, fld, share, pmle, mode == "geo"))
                arr.append((share, pmle))
            for spec, share in prox.items():
                ctf = arm_ctf.get(arm_ids[(fld, spec)], 0)
                if ctf == 0:   # empty at runtime: same rules as ctf=0 terms
                    if mode == "geo":
                        zero = True
                    continue
                pmle = ctf / c
                prox_rows.append((arm_ids[(fld, spec)], qid, share, pmle,
                                  mode == "geo"))
                arr.append((share, pmle))
            if zero:
                zero_qids.append(qid)
            if arr:
                structs = ", ".join(f"named_struct('sh', {_d(sh)}, "
                                    f"'pm', {_d(pm)})" for sh, pm in arr)
                map_entries.append(f"{_q(qid)}, array({structs})")
        if not rows and not prox_rows:
            return local_frame(spark, [],
                               "qid string, doc_id long, score double")
        cols = ["qid", "doc_id", "tf", "doclen", "share", "pmle", "geo"]
        present = None
        if rows:
            qt = F.broadcast(local_frame(
                spark, rows, "qid string, term string, field string, "
                             "share double, pmle double, geo boolean"))
            p = self.index.postings.where(
                sql_in("term", sorted({r[1] for r in rows})))
            present = p.join(qt, ["term", "field"]).select(*cols)
        if prox_rows:
            pqt = F.broadcast(local_frame(
                spark, prox_rows, "arm_id int, qid string, share double, "
                                  "pmle double, geo boolean"))
            j2 = zipped.join(pqt, "arm_id").select(*cols)
            present = j2 if present is None else present.unionByName(j2)
        p_tf = self._indri_p_sql("tf", "pmle", "doclen")
        p_0 = self._indri_p_sql("0", "pmle", "doclen")
        adj = (f"CASE WHEN geo THEN share * (ln({p_tf}) - ln({p_0})) "
               f"ELSE share * ({p_tf} - {p_0}) END")
        g = (present.groupBy("qid", "doc_id")
             .agg(F.expr(f"sum({adj}) AS adj"),
                  F.expr("first(doclen) AS doclen")))
        arms_of = f"element_at(map({', '.join(map_entries)}), qid)"
        dflt = self._indri_p_sql("0", "x.pm", "doclen")
        base_geo = (f"aggregate({arms_of}, 0.0D, "
                    f"(acc, x) -> acc + x.sh * ln({dflt}))")
        base_sum = (f"aggregate({arms_of}, 0.0D, "
                    f"(acc, x) -> acc + x.sh * {dflt})")
        score = (f"CASE WHEN {sql_in('qid', geo_qids)} "
                 f"THEN exp(adj + {base_geo}) ELSE adj + {base_sum} END")
        if zero_qids:
            score = (f"CASE WHEN {sql_in('qid', zero_qids)} THEN 0.0D "
                     f"ELSE {score} END")
        return g.selectExpr("qid", "doc_id", f"{score} AS score")

    def _bool_batch_frame(self, entries: list[tuple]) -> DataFrame:
        """Flat-boolean batch: → (qid, doc_id, score) from one postings
        pass. #AND (matchAll, score = min tf under rankedboolean,
        `QrySopAnd.java:68-83`) becomes a having-count filter against a
        literal qid → required-arm-count map; #OR (matchMin, score =
        max tf, `QrySopOr.java:69-84`) needs no filter. Unranked scores
        are 1.0 (`QrySopScore.java:75-81`)."""
        spark = self.index.postings.sparkSession
        rows = [(qid, t, f) for qid, _, pairs in entries for t, f in pairs]
        and_entries = [(qid, pairs) for qid, root, pairs in entries
                       if root == "and"]
        qt = F.broadcast(local_frame(
            spark, rows, "qid string, term string, field string"))
        p = self.index.postings.where(
            sql_in("term", sorted({t for _, t, _ in rows})))
        g = (p.join(qt, ["term", "field"])
             .groupBy("qid", "doc_id")
             .agg(F.expr("min(tf) AS _min_tf"), F.expr("max(tf) AS _max_tf"),
                  F.expr("count(DISTINCT term, field) AS _nt")))
        if and_entries:
            need = ", ".join(f"{_q(qid)}, {len(pairs)}"
                             for qid, pairs in and_entries)
            is_and = sql_in("qid", [qid for qid, _ in and_entries])
            g = g.where(f"NOT ({is_and}) "
                        f"OR _nt = element_at(map({need}), qid)")
            tf_score = f"CASE WHEN {is_and} THEN _min_tf ELSE _max_tf END"
        else:
            tf_score = "_max_tf"
        score = ("1.0D" if self.model == "unrankedboolean"
                 else f"CAST({tf_score} AS DOUBLE)")
        return g.selectExpr("qid", "doc_id", f"{score} AS score")

    # ------------------------------------------------------ Iop compilation --

    def eval_iop(self, node: Node) -> DataFrame:
        """→ (doc_id, tf, positions, doclen) posting frame for an Iop
        subtree.

        The plan cache stores (node, frame) — holding the node itself
        keeps the id() key alive, so a garbage-collected AST from a
        previous query can never alias a live entry (id() reuse would
        silently return another query's postings); `_plan_scope` empties
        it when the search call returns."""
        key = id(node)
        if key in self._iop_cache:
            return self._iop_cache[key][1]
        if node.op == "term":
            out = self.index.postings.where(
                f"term = {_q(node.term)} AND field = {_q(node.field)}"
            ).select("doc_id", "tf", "positions", "doclen")
        else:
            args = [self.eval_iop(a) for a in node.args]
            dfs = [self._df_hint(a) for a in node.args]
            n_part = self._list_parts(node)
            if node.op == "near":
                out = near_frame(args, node.n, dfs, n_part)
            elif node.op == "window":
                out = window_frame(args, node.n, dfs, n_part)
            elif node.op == "syn":
                out = syn_frame(args, n_part)
            else:
                raise ValueError(node.op)
            # NOT persisted: a derived list has one consumer per query
            # (its #SCORE or its parent Iop), and its df/ctf ride along as
            # window aggregates (see _score) instead of a second job.
        self._iop_cache[key] = (node, out)
        return out

    @cached_property
    def _list_width(self) -> tuple[int, int]:
        spark = self.index.postings.sparkSession
        return (spark.sparkContext.defaultParallelism,
                int(spark.conf.get(
                    "spark.sql.execution.arrow.maxRecordsPerBatch")))

    def _list_parts(self, node: Node) -> int:
        """Partitions for a derived list: its df bound (`_df_hint`) in
        Arrow batches (`spark.sql.execution.arrow.maxRecordsPerBatch`),
        at most defaultParallelism — one task for an interactive-sized
        list, so its zipper and its df/ctf window share that task; the
        full width for a hot list or an unknown bound."""
        width, batch = self._list_width
        hint = self._df_hint(node)
        if hint is None:
            return width
        if batch <= 0:       # unlimited batches: one batch holds any list
            return 1
        return max(1, min(width, -(-hint // batch)))

    def _df_hint(self, node: Node) -> int | None:
        """Upper bound on a subtree's posting count, from the term stats
        already prefetched at parse time — drives the proximity joins'
        broadcast decision (df ≪ corpus → broadcast; hot term → let
        Catalyst/AQE pick) and the zipper's task count. NEAR/WINDOW
        output ⊆ the intersection (min of args); SYN ≤ sum of args."""
        if node.op == "term":
            st = self._leaf_stats.get((node.term, node.field))
            return st[0] if st is not None else None
        hints = [self._df_hint(a) for a in node.args]
        if any(h is None for h in hints):
            return None
        if node.op == "syn":
            return sum(hints)
        return min(hints)

    def _stats_of(self, node: Node) -> tuple[int, int]:
        """(df, ctf) of a TERM leaf from the index's term_stats table —
        identical by construction to aggregating its postings
        (`InvList.java:143-144`), fetched once per (term, field) and
        inlined as literals: no per-term aggregation job, no crossJoin."""
        key = (node.term, node.field)
        if key not in self._leaf_stats:
            # a leaf parse() did not prefetch: fetch this one term
            rows = (self.index.term_stats
                    .where(f"term = {_q(node.term)} AND "
                           f"field = {_q(node.field)}")
                    .collect())
            self._leaf_stats[key] = ((rows[0]["df"], rows[0]["ctf"])
                                     if rows else (0, 0))
        return self._leaf_stats[key]

    # ------------------------------------------------------ Sop compilation --

    def eval_sop(self, node: Node) -> DataFrame:
        """→ (doc_id, score) frame for a Sop subtree. Under Indri a frame
        also carries `_ctf_<id>` for every derived-list #SCORE below it,
        and `_dl_<field>` when the subtree reads one field: the
        combiners' default scores need that ctf and doclen on every
        candidate."""
        if node.op == "score":
            return self._score(node)
        if node.op == "and":
            return self._and(node)
        if node.op == "or":
            return self._or(node)
        if node.op == "sum":
            return self._sum(node)
        if node.op in ("wsum", "wand"):
            return self._weighted(node)
        raise ValueError(node.op)

    # -- #SCORE ---------------------------------------------------------------

    def _score(self, node: Node) -> DataFrame:
        """#SCORE as ONE projection of its posting list: the model's
        formula as a single SQL expression with the list's df/ctf folded
        in. A term leaf's df/ctf are literals (prefetched). A derived list
        is scored with its OWN df/ctf (`QrySopScore.java:96`), computed
        as global window aggregates over the list inside the same plan,
        so the zipper that produced it runs once; a global aggregate
        cross-joined back would run it a second time."""
        child = node.args[0]
        # doclen rides every posting row (the Index contract), so scoring
        # joins nothing: at 10^12 docs a doclens join would be a
        # corpus-sized shuffle per query
        il = self.eval_iop(child)
        if child.op == "term":
            df, ctf = (str(int(v)) for v in self._stats_of(child))
        else:
            df, ctf = "count(1) OVER ()", "sum(tf) OVER ()"
        st = self.index.stats_for(child.field)
        if self.model == "bm25":
            score = self._bm25_sql(df, st)
        elif self.model == "indri":
            score = self._indri_sql("tf", ctf, "doclen", st)
        elif self.model == "rankedboolean":
            score = "CAST(tf AS DOUBLE)"             # QrySopScore.java:83-88
        else:  # unrankedboolean
            score = "1.0D"                           # QrySopScore.java:75-81
        cols = ["doc_id", f"{score} AS score"]
        if self.model == "indri":
            cols.append(f"doclen AS `_dl_{child.field}`")
            if child.op != "term":
                cols.append(f"{ctf} AS _ctf_{id(node)}")
        return il.selectExpr(*cols)

    def _bm25_sql(self, df: str, st: dict) -> str:
        """`QrySopScore.java:90-120` over columns tf and doclen: idf
        floored at 0, user weight ≡ 1. `df` is a SQL operand."""
        n = float(st["n_docs"])
        avglen = st["sum_len"] / st["doc_count"]
        k1, b = self.p.k1, self.p.b
        idf = f"greatest(0.0D, ln(({_d(n)} - {df} + 0.5D) / ({df} + 0.5D)))"
        tfw = (f"tf / (tf + {_d(k1)} * ({_d(1 - b)} + {_d(b)} * doclen"
               f" / {_d(avglen)}))")
        return f"({idf} * ({tfw}) * 1.0D)"

    def _indri_sql(self, tf: str, ctf: str, doclen: str, st: dict) -> str:
        """`QrySopScore.java:140-161`; tf=0 ⇒ the default score
        (`:123-138`). All arguments are SQL operands."""
        return self._indri_p_sql(tf, f"({ctf} / {_d(st['sum_len'])})", doclen)

    def _indri_p_sql(self, tf: str, pmle: str, doclen: str) -> str:
        """The smoothed Indri probability over SQL operands tf, pmle
        (ctf / collection length) and doclen."""
        mu, lam = self.p.mu, self.p.lam
        return (f"({_d(1 - lam)} * ({tf} + {_d(mu)} * {pmle})"
                f" / ({doclen} + {_d(mu)}) + {_d(lam)} * {pmle})")

    # -- boolean / bag-of-words combiners --------------------------------------

    def _and(self, node: Node) -> DataFrame:
        if self.model in ("unrankedboolean", "rankedboolean"):
            frames = [self.eval_sop(a).withColumnRenamed("score", f"_s{i}")
                      for i, a in enumerate(node.args)]
            j = reduce(lambda l, r: l.join(r, "doc_id"), frames)  # matchAll
            if self.model == "unrankedboolean":
                return j.select("doc_id", F.lit(1.0).alias("score"))
            score = F.least(*[F.col(f"_s{i}") for i in range(len(node.args))])
            return j.select("doc_id", score.alias("score"))      # min: QrySopAnd.java:68-83
        if self.model == "indri":
            k = len(node.args)
            exps = [1.0 / k] * k
            return self._indri_combine(node.args, exps, mode="geo")
        raise ValueError(f"#AND unsupported under {self.model} (reference parity)")

    def _or(self, node: Node) -> DataFrame:
        if self.model not in ("unrankedboolean", "rankedboolean"):
            raise ValueError(f"#OR unsupported under {self.model} (reference parity)")
        u = reduce(lambda l, r: l.unionByName(r),
                   [self.eval_sop(a) for a in node.args])
        agg = u.groupBy("doc_id").agg(F.max("score").alias("score"))  # QrySopOr.java:69-84
        if self.model == "unrankedboolean":
            return agg.select("doc_id", F.lit(1.0).alias("score"))
        return agg

    def _sum(self, node: Node) -> DataFrame:
        if self.model != "bm25":
            raise ValueError("#SUM is BM25-only (`QrySopSum.java:39-53`)")
        u = reduce(lambda l, r: l.unionByName(r),
                   [self.eval_sop(a) for a in node.args])
        return u.groupBy("doc_id").agg(F.sum("score").alias("score"))

    def _weighted(self, node: Node) -> DataFrame:
        if self.model != "indri":
            raise ValueError(f"#{node.op.upper()} is Indri-only in the reference")
        w = sum(node.weights)
        shares = [wi / w for wi in node.weights]
        return self._indri_combine(node.args, shares,
                                   mode="sum" if node.op == "wsum" else "geo")

    # -- Indri matchMin + default-score machinery -------------------------------

    def _indri_combine(self, args: list[Node], shares: list[float],
                       mode: str) -> DataFrame:
        """matchMin candidates (`Qry.java:325-348`); absent args
        contribute their default score (`QrySopAnd.java:97-107`,
        `QrySopWSum.java:52-70`, `QrySopWAnd.java:45-62`).

        mode='geo': Π v_i^share_i ; mode='sum': Σ share_i · v_i.

        Candidates come from ONE union of the arg frames, each tagged
        into its own `_s<i>` column, grouped by doc_id: every arg frame
        is read once, and over the doc_id-partitioned postings the
        grouping needs no exchange. A derived list's ctf (`_ctf_<id>`)
        reaches every candidate through a global window max.

        A single-field subtree takes each candidate's doclen from its
        own posting rows (`_dl_<field>`, carried through the union as a
        max): every candidate has a posting in that field. A multi-field
        subtree left-joins the doclens of every field it reads, since a
        candidate can lack a posting in some field."""
        k = len(args)
        own = [[f"_ctf_{sid}" for sid in self._derived_sids(a)] for a in args]
        ctfs = [c for cs in own for c in cs]
        fields = sorted({f for a in args for f in self._fields_of(a)})
        dls = [f"_dl_{fields[0]}"] if len(fields) == 1 else []
        tagged = [self.eval_sop(a).selectExpr(
            "doc_id",
            *[f"{'score' if j == i else 'CAST(NULL AS DOUBLE)'} AS _s{j}"
              for j in range(k)],
            *[f"{c if c in own[i] else 'CAST(NULL AS BIGINT)'} AS {c}"
              for c in ctfs],
            *[f"`{c}`" for c in dls]) for i, a in enumerate(args)]
        cols = [f"_s{i}" for i in range(k)] + ctfs + dls
        j = (reduce(DataFrame.union, tagged).groupBy("doc_id")
             .agg(*[F.max(F.col(f"`{c}`")).alias(c) for c in cols]))
        if ctfs:
            j = j.selectExpr("doc_id", *cols[:k],
                             *[f"coalesce(max({c}) OVER (), 0) AS {c}"
                               for c in ctfs],
                             *[f"`{c}`" for c in dls])
        if not dls:
            for fld in fields:
                j = j.join(self.index.doclens.where(F.col("field") == fld)
                           .select("doc_id",
                                   F.col("doclen").alias(f"_dl_{fld}")),
                           "doc_id", "left")
        vals = [f"coalesce(_s{i}, {self._default_sql(a)})"
                for i, a in enumerate(args)]
        if mode == "geo":
            score = reduce(lambda acc, sv: f"({acc} * POWER({sv[1]}, {_d(sv[0])}))",
                           zip(shares, vals), "1.0D")
        else:
            score = reduce(lambda acc, sv: f"({acc} + {_d(sv[0])} * {sv[1]})",
                           zip(shares, vals), "0.0D")
        return j.selectExpr("doc_id", f"{score} AS score", *ctfs,
                            *[f"`{c}`" for c in dls])

    def _fields_of(self, node: Node) -> set[str]:
        if node.op == "score":
            return {node.args[0].field}
        return set().union(*(self._fields_of(a) for a in node.args)) if node.args else set()

    def _derived_sids(self, node: Node) -> list[int]:
        """id()s of the derived-list #SCORE nodes in a Sop subtree."""
        if node.op == "score":
            return [] if node.args[0].op == "term" else [id(node)]
        return [sid for a in node.args for sid in self._derived_sids(a)]

    def _default_sql(self, node: Node) -> str:
        """Recursive Indri default score as a SQL expression
        (`QrySopAnd.java:86-94`, `QrySopWAnd.java:24-34`)."""
        if node.op == "score":
            child = node.args[0]
            ctf = (str(int(self._stats_of(child)[1])) if child.op == "term"
                   else f"_ctf_{id(node)}")
            return self._indri_sql("0", ctf, f"`_dl_{child.field}`",
                                   self.index.stats_for(child.field))
        if node.op == "and":
            k = len(node.args)
            return reduce(lambda acc, a: f"({acc} * POWER("
                                         f"{self._default_sql(a)}, {_d(1.0 / k)}))",
                          node.args, "1.0D")
        if node.op in ("wand", "wsum"):
            w = sum(node.weights)
            if node.op == "wand":
                return reduce(
                    lambda acc, wa: f"({acc} * POWER("
                                    f"{self._default_sql(wa[1])}, {_d(wa[0] / w)}))",
                    zip(node.weights, node.args), "1.0D")
            return reduce(
                lambda acc, wa: f"({acc} + {_d(wa[0] / w)} * "
                                f"{self._default_sql(wa[1])})",
                zip(node.weights, node.args), "0.0D")
        raise ValueError(f"no default score for #{node.op}")
