"""Inverted-index builder — the component the reference delegates to Lucene.

The reference has NO indexer code (SURVEY.md §2.1 note: prebuilt Lucene index
in `QryEval/index/`); this module is specified by BASELINE.json `north_rule`:
posting lists with positions, term/doc frequencies, doc-length store counting
stopword positions (`Idx.java:84-90`), built scalably:

* tokenization stays in whole-stage codegen: `filter(split(lower(text),...))`
  — pure JVM column expressions, no Python in the hot path (faster than any
  UDF; an Arrow-UDF analyzer variant exists in `analysis.Analyzer`);
* dense docid assignment is the two-pass distributed pattern (range-partition
  → per-partition counts → broadcast offsets), NOT a single-partition window
  — survives 10^12 rows;
* postings aggregation groups on (term, doc_id) — skew-free key (the hot-term
  problem only exists for per-term grouping, which we do only for the tiny
  `term_stats` aggregate where map-side partial aggregation absorbs it);
* segment layout (compression, block-max metadata), persistence,
  per-partition manifests, and resume live in `indexer.segments`;
  delta generations + tombstones + compaction in `indexer.merge`.

All frames are lazy; callers decide what to persist.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..analysis import SPARK_TOKENS_EXPR, STOPWORDS

DEFAULT_FIELD = "body"


def assign_dense_ids(df: DataFrame, key_cols: list[str],
                     id_col: str = "doc_id", num_partitions: int = 32) -> DataFrame:
    """Deterministic dense 0-based ids by lexicographic key order, scalably.

    Two-pass: range-partition by key → count per partition (tiny collect) →
    broadcast cumulative offsets → per-partition row_number + offset. The
    ids depend only on the total key order, not on partition boundaries, so
    they are stable across parallelism levels (FIXTURES.md §1 requirement).
    """
    d = df.repartitionByRange(num_partitions, *key_cols)
    d = d.withColumn("_pid", F.spark_partition_id())
    counts = {r["_pid"]: r["cnt"] for r in
              d.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    spark = df.sparkSession
    off_df = spark.createDataFrame(
        [(pid, off) for pid, off in offsets.items()], "_pid int, _off long")
    from pyspark.sql import Window
    w = Window.partitionBy("_pid").orderBy(*key_cols)
    out = (d.join(F.broadcast(off_df), "_pid")
           .withColumn(id_col, (F.row_number().over(w) - 1 + F.col("_off")).cast("long"))
           .drop("_pid", "_off"))
    return out


def _with_tokens(df: DataFrame, text_col: str) -> DataFrame:
    return (df
            .withColumn("_tokens", F.expr(SPARK_TOKENS_EXPR.format(col=text_col)))
            .withColumn("doclen", F.size("_tokens").cast("long")))


def docs_from_code_corpus(src: DataFrame) -> DataFrame:
    """(repo, path, commit, lang, content) → docs frame with doc_id, ext_id,
    sha256, doclen, _tokens. ext_id = repo:path@commit[:8] (`Idx.java:74-78`
    analog); sha256 is the per-row content-equality invariant (input_hint)."""
    d = assign_dense_ids(src, ["repo", "path", "commit"])
    return (_with_tokens(d, "content")
            .withColumn("ext_id", F.concat_ws("", F.col("repo"), F.lit(":"),
                                              F.col("path"), F.lit("@"),
                                              F.substring("commit", 1, 8)))
            .withColumn("sha256", F.sha2(F.col("content"), 256)))


def docs_from_documents_table(src: DataFrame) -> DataFrame:
    """testdata `documents` (doc_id, text, lang, source, n_chars) → docs frame.

    ext_id = 'doc' || lpad(doc_id, 9, '0') so ext_id ascending == doc_id
    ascending (keeps the reference tie-break `ScoreList.java:90-97`
    deterministic and SQL-expressible)."""
    return (_with_tokens(src, "text")
            .withColumn("doc_id", F.col("doc_id").cast("long"))
            .withColumn("ext_id",
                        F.concat(F.lit("doc"),
                                 F.lpad(F.col("doc_id").cast("string"), 9, "0")))
            .withColumn("sha256", F.sha2(F.col("text"), 256)))


def build_postings(docs: DataFrame, field: str = DEFAULT_FIELD,
                   tokens_col: str = "_tokens",
                   num_partitions: int | None = None) -> DataFrame:
    """→ (term, field, doc_id, tf, positions, doclen) — positions 1-based
    over ALL tokens; stopwords dropped from emission only (`Idx.java:84-90`
    semantics). doclen is inlined per posting (Lucene stores norms doc-
    aligned for the same reason): every scoring plan needs it, and carrying
    it here removes the doclens join — at 10^12 docs that join is a
    corpus-sized shuffle per query — for +8 bytes per posting row.

    Shuffle shape (the load-bearing scale decision): docs are explicitly
    repartitioned by doc_id BEFORE tokenize/explode, so the
    groupBy(term, doc_id) aggregation's clustering requirement is already
    satisfied and the 10-100× wider token stream NEVER shuffles — the
    only exchange moves compact document rows (doclen adds 8 bytes per
    DOC row to that exchange, not per token). The partition count is
    explicit (not AQE's size-based coalescing, which under-parallelizes
    here: post-shuffle work per byte is huge because each doc explodes
    into many token rows). Hot terms cannot create hot reducers: the
    grouping key includes doc_id."""
    if num_partitions is None:
        num_partitions = docs.sparkSession.sparkContext.defaultParallelism * 2
    if "doclen" not in docs.columns:
        docs = docs.withColumn("doclen", F.size(tokens_col).cast("long"))
    toks = (docs
            .repartition(num_partitions, "doc_id")
            .select("doc_id", "doclen",
                    F.posexplode(tokens_col).alias("_p0", "term"))
            .where(~F.col("term").isin(*sorted(STOPWORDS)))
            .select("term", "doc_id", "doclen",
                    (F.col("_p0") + 1).cast("int").alias("pos")))
    return (toks
            .groupBy("term", "doc_id")
            .agg(F.count("*").cast("int").alias("tf"),
                 F.sort_array(F.collect_list("pos")).alias("positions"),
                 F.first("doclen").alias("doclen"))
            .withColumn("field", F.lit(field))
            .select("term", "field", "doc_id", "tf", "positions", "doclen"))


POSTINGS_SCHEMA = ("term string, field string, doc_id long, tf int, "
                   "positions array<int>, doclen long")


def build_postings_arrow(docs: DataFrame, field: str = DEFAULT_FIELD,
                         text_col: str = "text",
                         id_col: str = "doc_id",
                         num_partitions: int | None = None) -> DataFrame:
    """Zero-shuffle postings build: the (term, doc_id) aggregation is
    doc-LOCAL (a document's tokens live in one row), so the whole
    tokenize → group → positions pipeline runs inside one `mapInPandas`
    kernel — no exchange, no JVM hash aggregate at all.

    Why this exists next to `build_postings` (JVM tokenizer + groupBy):
    the JVM shape is bound by allocation/GC of 10^7-group
    `collect_list` aggregation — GC is shared across every task thread
    in the executor JVM, so adding cores adds almost no throughput
    (measured ~1.0× going 8→32 cores at 21M postings while a pure-CPU
    burn scales 3×). Arrow workers are separate Python PROCESSES with
    private heaps; the same build scales with cores. Output contract is
    identical (same tokenizer semantics as `analysis.tokenize`, 1-based
    positions over ALL tokens, stopword-inclusive doclen).
    """
    import re

    import numpy as np
    import pandas as pd

    from ..analysis import STOPWORDS as STOP

    token_re = re.compile(r"[a-z0-9]+")  # ≡ analysis.tokenize: split on
    # [^a-z0-9]+ of the lowercased text, empties dropped

    def emit(batches):
        # Vectorized ACROSS documents: tokenization is one pandas
        # str.findall pass, and the whole (doc, term) aggregation is
        # factorize + lexsort + run-boundary slicing in numpy. The
        # earlier shape (a per-token Python loop with dict.setdefault)
        # was O(total tokens) interpreter work — invisible on the unit
        # corpora, but ~75% of build wall time on a realistic
        # 50k-term/97-postings-per-doc corpus, where it also scaled
        # NEGATIVELY with cores (measured 137→176 s going 2→8 on 500k
        # docs). Output contract unchanged: 1-based positions over ALL
        # tokens, stopword-inclusive doclen, stopword postings dropped.
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            doc_ids = pdf[id_col].to_numpy(np.int64)
            toks = pdf[text_col].fillna("").str.lower().str.findall(token_re)
            counts = toks.str.len().to_numpy(np.int64)  # doclen, stops incl.
            total = int(counts.sum())
            if total == 0:
                continue
            flat = np.empty(total, dtype=object)
            off = 0
            for lst in toks:                 # one step per DOC, not token
                if lst:
                    flat[off:off + len(lst)] = lst
                    off += len(lst)
            starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
            pos = (np.arange(total, dtype=np.int64)
                   - np.repeat(starts, counts) + 1).astype(np.int32)
            drow = np.repeat(np.arange(n, dtype=np.int64), counts)
            keep = ~pd.Series(flat).isin(STOP).to_numpy()  # hash lookup
            # per token (np.isin on object dtype would compare every
            # token against every stopword element-wise)
            if not keep.any():
                continue
            flat, pos, drow = flat[keep], pos[keep], drow[keep]
            codes, uniq = pd.factorize(flat)
            order = np.lexsort((codes, drow))   # stable → positions stay
            codes, pos, drow = codes[order], pos[order], drow[order]
            bounds = np.flatnonzero(np.concatenate(
                ([True], (codes[1:] != codes[:-1])
                 | (drow[1:] != drow[:-1]))))
            tf = np.diff(np.concatenate((bounds, [codes.size])))
            head_doc = drow[bounds]
            yield pd.DataFrame({
                "term": uniq.take(codes[bounds]),
                "field": field,
                "doc_id": doc_ids[head_doc],
                "tf": tf.astype(np.int32),
                "positions": np.split(pos, bounds[1:]),
                "doclen": counts[head_doc]})

    d = docs.select(id_col, text_col)
    if num_partitions is not None:
        d = d.repartition(num_partitions)
    return d.mapInPandas(emit, schema=POSTINGS_SCHEMA)


def build_doclens(docs: DataFrame, field: str = DEFAULT_FIELD) -> DataFrame:
    return docs.select("doc_id", F.lit(field).alias("field"), "doclen")


def build_term_stats(postings: DataFrame) -> DataFrame:
    """(term, field, df, ctf) — map-side partial agg absorbs term skew."""
    return (postings.groupBy("term", "field")
            .agg(F.count("*").alias("df"), F.sum("tf").alias("ctf")))


def build_docterms(postings: DataFrame) -> DataFrame:
    """Forward index (`TermVector.java:22-114` analog), for feedback/LeToR:
    (doc_id, field, stems array, stem_tf array, doclen-free)."""
    return (postings
            .groupBy("doc_id", "field")
            .agg(F.collect_list(F.struct("term", "tf")).alias("_tv"))
            .select("doc_id", "field",
                    F.col("_tv.term").alias("stems"),
                    F.col("_tv.tf").alias("stem_tf")))


@dataclass
class Index:
    """Logical index: lazy DataFrames + driver-side scalar corpus stats."""

    docs: DataFrame        # doc_id, ext_id, sha256, doclen, source cols
    doclens: DataFrame     # doc_id, field, doclen
    postings: DataFrame    # term, field, doc_id, tf, positions, doclen;
    # None for a segments-only store (indexer.store.open_index)
    term_stats: DataFrame  # term, field, df, ctf
    corpus_stats: dict = dc_field(default_factory=dict)
    # field -> {"n_docs": long, "doc_count": long, "sum_len": long}
    doc_map: DataFrame = None  # persisted (doc_id, ext_id) projection —
    # every query's final join touches it; caching the 2-column
    # projection (not the content-bearing docs frame) keeps it RAM-cheap
    # even at 10^9 docs/executor-fleet scale
    extid_docid_fmt: str | None = None  # "prefix:width" when ext_id ==
    # concat(prefix, lpad(doc_id, width, '0')) for EVERY doc — i.e.
    # ext_id is a pure function of doc_id AND order-isomorphic to it
    # (requires 0 <= doc_id < 10**width; the construction site must
    # verify both). When set, the engine tie-breaks on doc_id and
    # PROJECTS ext_id instead of joining the corpus-sized doc_map:
    # per-query id resolution costs O(k), not O(corpus) — at 10^12 docs
    # the doc_map join is the difference between a k-row projection and
    # a per-query corpus-wide hash join. None = resolve by join (always
    # correct; the reference's getExternalDocid, `Idx.java:74-78`).

    def __post_init__(self):
        # One posting layout feeds every operator: scoring reads doclen
        # off the posting row, never from a doclens join.
        if self.postings is not None and \
                "doclen" not in self.postings.columns:
            raise ValueError("Index postings must carry a doclen column "
                             "(term, field, doc_id, tf, positions, doclen)")

    def stats_for(self, field: str) -> dict:
        return self.corpus_stats[field]


def _collect_corpus_stats(doclens: DataFrame, n_docs: int) -> dict:
    rows = (doclens.groupBy("field")
            .agg(F.count("*").alias("doc_count"), F.sum("doclen").alias("sum_len"))
            .collect())
    return {r["field"]: {"n_docs": n_docs, "doc_count": r["doc_count"],
                         "sum_len": r["sum_len"]} for r in rows}


def _term_stats(postings: DataFrame, cache: bool) -> DataFrame:
    """The (term, field, df, ctf) table. Cached, it is persisted next to
    its postings and filled here, at build: every query's stats prefetch
    is then one cached scan, and the first one of a session does not run
    the postings aggregate (nor fill the postings cache) inside a query."""
    term_stats = build_term_stats(postings)
    if cache:
        term_stats = term_stats.persist()
        term_stats.count()
    return term_stats


def build_index_frames(docs: DataFrame,
                       extra_fields: dict[str, str] | None = None,
                       cache: bool = True, builder: str = "jvm",
                       text_col: str | None = None,
                       extid_docid_fmt: str | None = None) -> Index:
    """docs (with _tokens/doclen) → full logical index.

    extra_fields: {field_name: source_column} indexed in addition to `body`
    (e.g. {"path": "path", "repo": "repo"} for the code corpus — analog of
    the reference's title/url/inlink fields, `QryEval.java:23`).

    builder: 'jvm' (codegen tokenizer + groupBy — fastest cold-start at
    test scale) or 'arrow' (doc-local mapInPandas kernel — zero-shuffle,
    scales with cores because Python workers have private heaps; the
    10^12-file default). Outputs are identical (tested)."""
    if builder == "arrow":
        tc = text_col or ("text" if "text" in docs.columns else "content")
        postings = build_postings_arrow(docs, text_col=tc)
    else:
        postings = build_postings(docs)
    doclens = build_doclens(docs)
    for fld, col in (extra_fields or {}).items():
        fd = _with_tokens(docs.select("doc_id", col), col)
        postings = postings.unionByName(build_postings(fd, field=fld))
        doclens = doclens.unionByName(fd.select(
            "doc_id", F.lit(fld).alias("field"), "doclen"))
    doc_map = docs.select("doc_id", "ext_id")
    if cache:
        postings = postings.persist()
        doclens = doclens.persist()
        doc_map = doc_map.persist()
    term_stats = _term_stats(postings, cache)
    n_docs = docs.count()
    idx = Index(
        docs=docs.drop("_tokens"),
        doclens=doclens,
        postings=postings,
        term_stats=term_stats,
        corpus_stats=_collect_corpus_stats(doclens, n_docs),
        doc_map=doc_map,
        extid_docid_fmt=extid_docid_fmt,
    )
    return idx


def build_index_frames_analyzed(docs: DataFrame, analyzer,
                                text_col: str = "text",
                                field: str = DEFAULT_FIELD,
                                cache: bool = True,
                                extid_docid_fmt: str | None = None) -> Index:
    """Full logical index through the configurable analyzer chain
    (`analysis.Analyzer` — e.g. `REFERENCE_PARITY`: StandardTokenizer
    analog → possessive → stop → KStem, the reference's exact chain,
    `EnglishAnalyzerConfigurable.java:143-162`).

    Postings come from `analysis.build_postings_udf` (same shuffle shape
    as `build_postings`: docs repartitioned by doc_id BEFORE the
    analyzer UDF + explode, so the token stream never shuffles); the
    analyzer runs as ONE Arrow-batched pandas UDF per doc row —
    vectorized, never per-row at the DataFrame layer (input_hint).
    `docs` needs doc_id/ext_id assigned (docs_from_* helpers); doclen is
    recomputed by the analyzer (its tokenizer may split differently from
    the SQL expression)."""
    from ..analysis import analyze_udf, build_postings_udf
    src = docs.drop("_tokens", "doclen")
    postings = build_postings_udf(src, analyzer, text_col=text_col,
                                  field=field)
    docs_out = src.withColumn("doclen", analyze_udf(analyzer)(
        F.col(text_col)).getField("doclen"))
    doclens = build_doclens(docs_out, field)
    doc_map = docs_out.select("doc_id", "ext_id")
    if cache:
        postings = postings.persist()
        doclens = doclens.persist()
        doc_map = doc_map.persist()
    term_stats = _term_stats(postings, cache)
    n_docs = docs_out.count()
    return Index(
        docs=docs_out,
        doclens=doclens,
        postings=postings,
        term_stats=term_stats,
        corpus_stats=_collect_corpus_stats(doclens, n_docs),
        doc_map=doc_map,
        extid_docid_fmt=extid_docid_fmt,
    )


def index_documents_table(spark: SparkSession, sf_dir: str,
                          cache: bool = True,
                          builder: str = "jvm") -> Index:
    """Convenience: index /root/testdata/<sf>/documents.parquet.

    `docs_from_documents_table` constructs ext_id = 'doc' ||
    lpad(doc_id, 9, '0'), so when every doc_id sits in [0, 10^9) the
    index can declare `extid_docid_fmt` and the engine resolves ext_id
    by projection instead of a doc_map join (Index.extid_docid_fmt).
    The bounds check is one column-pruned min/max scan at build time."""
    src = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return build_index_frames(docs_from_documents_table(src), cache=cache,
                              builder=builder,
                              extid_docid_fmt=documents_extid_fmt(src))


def documents_extid_fmt(src: DataFrame) -> str | None:
    """`"doc:9"` when every doc_id of a documents-shaped table sits in
    [0, 10^9) — the bounds under which `docs_from_documents_table`'s
    ext_id is order-isomorphic to doc_id (Index.extid_docid_fmt); one
    column-pruned min/max scan, else None (join resolution)."""
    b = src.agg(F.min("doc_id").alias("lo"),
                F.max("doc_id").alias("hi")).first()
    return ("doc:9" if b["lo"] is not None and b["lo"] >= 0
            and b["hi"] < 10 ** 9 else None)
