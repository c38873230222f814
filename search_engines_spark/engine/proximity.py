"""#NEAR/n, #WINDOW/n, #SYN as DataFrame plans + an Arrow-batched zipper.

The reference's doc-at-a-time alignment (`QryIopNear.java:61-92` min-docid
advancing) becomes an n-way inner join on doc_id — Catalyst picks the join
strategy, AQE splits skewed keys. Only the per-document position zipper is
Python, and it is Arrow-vectorized per batch (pure Python only *within* one
row's position arrays — SURVEY.md §2.3). The zipper kernels are imported
from `oracle` so engine and golden oracle share one implementation and
cannot drift.
"""

from __future__ import annotations

from functools import reduce
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..oracle import near_positions, window_positions


def _joined_positions(args: list[DataFrame],
                      dfs: list[int | None] | None = None) -> DataFrame:
    """Inner-join arg posting frames on doc_id; positions as p0..p{k-1}.

    Broadcast is df-driven: a non-first side is broadcast only when its
    (known or estimated) posting count is ≤ PROXIMITY_BROADCAST_MAX_DF —
    for interactive query terms df ≪ corpus and the broadcast join skips
    shuffling the left side; for stopword-grade terms the positions
    arrays make the frame tens of MB and force-broadcasting it is slower
    than letting Catalyst/AQE pick sort-merge. Unknown df (dfs=None)
    keeps the broadcast — the historical interactive-path behavior."""
    # doclen rides the first arg — all args of one proximity node share
    # a field (parser-enforced), so any arg's doclen is THE doclen;
    # keeping it lets #SCORE over a derived list skip a doclens join too
    renamed = [args[0].select("doc_id", F.col("positions").alias("_p0"),
                              "doclen")] + \
        [a.select("doc_id", F.col("positions").alias(f"_p{i}"))
         for i, a in enumerate(args) if i > 0]

    def j(l, ri):
        r, i = ri
        df_i = dfs[i] if dfs is not None else None
        bc = df_i is None or df_i <= PROXIMITY_BROADCAST_MAX_DF
        return l.join(F.broadcast(r) if bc else r, "doc_id")
    return reduce(j, [(r, i + 1) for i, r in enumerate(renamed[1:])],
                  renamed[0])


PROXIMITY_BROADCAST_MAX_DF = 100_000


def _zipper_frame(args: list[DataFrame], kernel, dfs: list[int | None] | None,
                  n_part: int) -> DataFrame:
    """Shared NEAR/WINDOW shape: join on doc_id → `n_part`-way doc_id
    exchange → row-dropping `mapInPandas` position kernel.

    The kernel runs as a map over the exchange's output, not as a
    filtering pandas UDF: Catalyst pushes a deterministic UDF filter below
    a repartition (the zipper then runs on the scan side, once for the
    filter and again for the projection), and a bare repartition("doc_id")
    is dropped as redundant when its input is already hash-partitioned on
    doc_id at the session's shuffle width. A map is not pushed below the
    exchange, so the Arrow round trip happens once, after it, in `n_part`
    tasks (the caller sizes it from the list's df bound — one task for an
    interactive-sized intersection). The explicit count also keeps AQE
    from resizing the exchange."""
    k = len(args)

    def zipper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pos = [kernel([list(c) for c in row])
                   for row in zip(*(pdf[f"_p{i}"] for i in range(k)))]
            keep = np.fromiter((bool(p) for p in pos), bool, len(pos))
            hits = [p for p in pos if p]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].to_numpy()[keep],
                "tf": np.fromiter((len(p) for p in hits), np.int32,
                                  len(hits)),
                "positions": pd.Series(hits, dtype=object),
                "doclen": pdf["doclen"].to_numpy()[keep]})

    return (_joined_positions(args, dfs)
            .repartition(n_part, "doc_id")
            .mapInPandas(zipper, schema="doc_id long, tf int, "
                                        "positions array<int>, doclen long"))


def near_frame(args: list[DataFrame], n: int, dfs: list[int | None] | None,
               n_part: int) -> DataFrame:
    """#NEAR/n — left-fold two-pointer, `<= n`, emits last arg's positions,
    consumes matched pairs (`QryIopNear.java:97-116`)."""
    def kernel(pos_lists: list[list[int]]) -> list[int]:
        cur = pos_lists[0]
        for nxt in pos_lists[1:]:
            cur = near_positions(cur, nxt, n)
            if not cur:
                break
        return cur
    return _zipper_frame(args, kernel, dfs, n_part)


def window_frame(args: list[DataFrame], n: int, dfs: list[int | None] | None,
                 n_part: int) -> DataFrame:
    """#WINDOW/n — unordered, strict `< n`, emits max_loc, advances all
    (`QryIopWindow.java:121-137`)."""
    return _zipper_frame(args, lambda pls: window_positions(pls, n), dfs,
                         n_part)


def syn_frame(args: list[DataFrame], n_part: int) -> DataFrame:
    """#SYN — union; positions = sorted concat (`QryIopSyn.java:17-71`).
    Pure built-ins: union → `n_part`-way doc_id exchange → groupBy(doc_id)
    → flatten + array_sort."""
    u = reduce(lambda l, r: l.unionByName(r),
               [a.select("doc_id", "positions", "doclen") for a in args])
    return (u.repartition(n_part, "doc_id").groupBy("doc_id")
            .agg(F.array_sort(F.flatten(F.collect_list("positions")))
                 .alias("positions"),
                 # one doc has one doclen per field; args share the field
                 F.first("doclen").alias("doclen"))
            .select("doc_id", F.size("positions").cast("int").alias("tf"),
                    "positions", "doclen"))
