"""One-pass batched evaluation of proximity score arms for `search_many`.

The per-query compiled path gives every #NEAR/#WINDOW/#SYN arm its own
join + Arrow-zipper stages; a 50-query SDM batch therefore schedules
~150 tiny Python stages and the batch becomes scheduler-bound (measured
flat-to-negative 8→32-core scaling — BENCH/BASELINE.md r01). This module
is the same trick as the bow one-pass table, applied to structured arms:

1. ONE postings scan pruned to the union of every arm's (term, field)
   pairs (predicate pushdown per field),
2. ONE shuffle — groupBy(doc_id, field) collecting term → positions —
   keyed on doc_id so it is skew-free regardless of term hotness,
3. ONE Arrow stage that evaluates EVERY arm's position kernel against
   each doc's term map (`mapInPandas`; pure Python only within one
   doc × arm, exactly the reference's per-document zipper scope,
   `QryIopNear.java:97-116` / `QryIopWindow.java:121-137`),
4. derived df/ctf per arm as one tiny aggregate broadcast back
   (`QrySopScore.java:96` scores a derived list with ITS OWN df/ctf),
5. BM25 scoring + (qid, mult) fan-out as broadcast joins.

Stage count is constant in the number of queries and arms; the only
per-arm cost is data (the arm's intersection rows), which is the part
that actually parallelizes. Kernels are shared with `oracle` so the
batched path cannot drift from the per-query path or the golden oracle.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..literals import sql_in, str_lit
from ..oracle import near_positions, window_positions
from ..parser import Node

# spec tree: ("term", term) | (op, n, (child, ...)) — picklable, hashable
Spec = tuple


def spec_of(node: Node) -> Spec:
    if node.op == "term":
        return ("term", node.term)
    return (node.op, node.n, tuple(spec_of(a) for a in node.args))


def eval_spec(spec: Spec, posmap: dict[str, list[int]]) -> list[int] | None:
    """Evaluate an Iop spec tree against one document's term → positions
    map. None ⇒ no posting for this doc (matchAll miss / empty result).
    Mirrors `oracle.eval_iop` per document."""
    if spec[0] == "term":
        return posmap.get(spec[1]) or None
    children = [eval_spec(c, posmap) for c in spec[2]]
    if spec[0] == "syn":                        # matchAny, sorted concat
        present = [c for c in children if c]
        if not present:
            return None
        return sorted(p for c in present for p in c)
    if any(not c for c in children):            # near/window: matchAll
        return None
    if spec[0] == "near":                       # left-fold two-pointer
        cur = children[0]
        for nxt in children[1:]:
            cur = near_positions(cur, nxt, spec[1])
            if not cur:
                return None
        return cur
    if spec[0] == "window":                     # k-way min/max scan
        return window_positions(children, spec[1]) or None
    raise ValueError(spec[0])


def term_pairs_of(spec: Spec, field: str) -> set[tuple[str, str]]:
    if spec[0] == "term":
        return {(spec[1], field)}
    out: set[tuple[str, str]] = set()
    for c in spec[2]:
        out |= term_pairs_of(c, field)
    return out


def arm_postings_frame(postings: DataFrame,
                       arms: dict[int, tuple[str, Spec]]) -> DataFrame:
    """→ (arm_id int, doc_id long, field string, tf int, doclen long):
    the derived posting list of every arm, from one postings pass.

    `arms`: arm_id → (field, spec). The returned frame is the exact
    union of what per-arm `near_frame`/`window_frame`/`syn_frame` calls
    would produce (same kernels), minus their per-arm stages.
    """
    by_field: dict[str, list[tuple[int, Spec]]] = {}
    pairs: set[tuple[str, str]] = set()
    for arm_id, (field, spec) in arms.items():
        by_field.setdefault(field, []).append((arm_id, spec))
        pairs |= term_pairs_of(spec, field)

    cond = " OR ".join(
        f"(field = {str_lit(fld)} AND "
        f"{sql_in('term', sorted({t for t, f in pairs if f == fld}))})"
        for fld in sorted(by_field))

    scan = postings.where(cond).select("term", "field", "doc_id",
                                       "positions", "doclen")
    # The ONE shuffle, skew-free key. The partition count is EXPLICIT:
    # a bare repartition("doc_id") is AQE-coalescible, and the session's
    # size-first coalescing (parallelismFirst=false — right for KB-scale
    # interactive shuffles) may shrink THIS shuffle below the core
    # count, narrowing the Python zipper stage that follows — the one
    # stage here whose cost is arms × matched docs. Pinning 2× cores
    # measured neutral on the 500k-doc box (the zipper was already wide
    # there) but removes the size-policy coupling outright: the width
    # of the batch's only Python stage should never depend on an
    # advisory byte threshold tuned for interactive shuffles.
    n_part = postings.sparkSession.sparkContext.defaultParallelism * 2
    grouped = (scan
               .repartition(n_part, "doc_id")
               .groupBy("doc_id", "field")
               .agg(F.expr("collect_list(term) AS _terms"),
                    F.expr("collect_list(positions) AS _poss"),
                    F.expr("first(doclen) AS doclen")))

    out_schema = "arm_id int, doc_id long, field string, tf int, doclen long"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            arm_o, doc_o, fld_o, tf_o, dl_o = [], [], [], [], []
            for doc_id, field, terms, poss, doclen in zip(
                    pdf["doc_id"], pdf["field"], pdf["_terms"],
                    pdf["_poss"], pdf["doclen"]):
                specs = by_field.get(field)
                if not specs:
                    continue
                pm = {t: list(p) for t, p in zip(terms, poss)}
                for arm_id, spec in specs:
                    res = eval_spec(spec, pm)
                    if res:
                        arm_o.append(arm_id)
                        doc_o.append(doc_id)
                        fld_o.append(field)
                        tf_o.append(len(res))
                        dl_o.append(doclen)
            yield pd.DataFrame({"arm_id": pd.Series(arm_o, dtype="int32"),
                                "doc_id": pd.Series(doc_o, dtype="int64"),
                                "field": pd.Series(fld_o, dtype="object"),
                                "tf": pd.Series(tf_o, dtype="int32"),
                                "doclen": pd.Series(dl_o, dtype="int64")})

    return grouped.mapInPandas(kernel, schema=out_schema)
