"""Distributed BPE tokenizer training + encoding (Sennrich et al. 2016).

Learn a byte-pair-encoding merge table FROM the corpus, then encode
documents with it — both as DataFrame plans.

Semantics (the classic word-level BPE of Sennrich et al., "Neural
Machine Translation of Rare Words with Subword Units", ACL 2016):

* a word is its character symbols plus an end-of-word marker ``_``
  (tokens come from the canonical ``[a-z0-9]+`` tokenizer, so ``_``
  cannot collide with a character symbol);
* each round counts ADJACENT symbol pairs over the word-frequency
  table (all adjacent positions count, Sennrich's ``get_stats``), picks
  the globally best pair — highest count, ties broken by (left, right)
  ascending so training is fully deterministic — and merges it
  everywhere with the standard left-to-right non-overlapping scan;
* the scan is implemented as a fold: append each symbol, merging it
  into the accumulator's LAST symbol when (last, current) == (left,
  right). Fold == scan because a just-merged symbol ``left||right``
  can never equal ``left`` again (``right`` is non-empty), so no
  overlapping re-merge is possible within a round.

Scale shape (the reason this is a Spark plan and not a driver script):

* ONE corpus scan builds the word-frequency table (map-side combined
  groupBy) — everything after runs on the VOCAB table, whose size is
  independent of corpus size (heavy-hitter words collapse map-side);
* each round is one vocab-bounded pair aggregation plus a 1-row
  ``TakeOrdered`` argmax collect — the single global reduce any
  distributed BPE needs — and one narrow merge projection; rounds
  persist/unpersist so round r costs O(vocab), not O(r · vocab);
* encoding is a ZERO-SHUFFLE projection: the learned merge table (a
  few hundred rows) is inlined as literals into a chain of
  higher-order folds, one per merge, applied per token inside one
  ``transform`` — no join against a vocabulary, so out-of-vocabulary
  words in a NEW corpus encode correctly (they just merge as far as
  their pairs allow), and a 100 TB encode pass is a filtered scan.
  Each fold consumes the previous fold's array exactly once (empty
  init, first element handled inside the lambda), so the expression
  tree grows linearly in the number of merges, not exponentially.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .dedup import tokens_expr

EOW = "_"                      # end-of-word marker (outside [a-z0-9])


def bpe_word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """→ (word, freq, syms) — the word-frequency table BPE trains on:
    one corpus scan, one map-side-combined groupBy; `syms` is the
    word's initial symbol sequence (characters + the EOW marker)."""
    return (docs
            .select(F.explode(tokens_expr(text_col)).alias("word"))
            .groupBy("word")
            .agg(F.count("*").cast("long").alias("freq"))
            .withColumn("syms", F.concat(F.split(F.col("word"), "(?!$)"),
                                         F.array(F.lit(EOW)))))


def merge_fold(syms: Column, left: str, right: str) -> Column:
    """Apply ONE merge (left, right) to a symbol array with the
    standard left-to-right non-overlapping scan, as a single
    `aggregate` fold. The input array is consumed exactly once (empty
    initial accumulator; the first symbol falls out of the size()==0
    branch), so chaining N of these grows the expression linearly."""
    la, lr = F.lit(left), F.lit(right)

    def step(acc: Column, x: Column) -> Column:
        last = F.element_at(acc, -1)
        return (F.when(F.size(acc) == 0, F.array(x))
                .when((last == la) & (x == lr),
                      F.concat(F.slice(acc, 1, F.size(acc) - 1),
                               F.array(F.concat(last, x))))
                .otherwise(F.concat(acc, F.array(x))))

    return F.aggregate(syms, F.array().cast("array<string>"), step)


def bpe_train(docs: DataFrame, num_merges: int = 8,
              text_col: str = "text",
              return_vocab: bool = False):
    """Learn `num_merges` BPE merges from the corpus → a merge-table
    DataFrame (rank, left_sym, right_sym, merged, cnt), rank 1-based in
    learned order. Stops early if the vocabulary runs out of pairs
    (every word fused to one symbol). With `return_vocab=True` also
    returns the post-merge vocabulary (word, freq, syms) — the state a
    resumed training round r+1 would start from.

    Driver state is one (left, right, cnt) row per round — the global
    argmax every BPE implementation synchronizes on — never the vocab
    itself."""
    spark = docs.sparkSession
    words = bpe_word_counts(docs, text_col).persist()
    words.count()
    merges: list[tuple] = []
    for r in range(1, num_merges + 1):
        # NB Spark's sequence(1, 0) is DESCENDING [1, 0], not empty —
        # fully-fused single-symbol words must emit no pairs at all
        idx = (F.when(F.size("syms") >= 2,
                      F.sequence(F.lit(1), F.size("syms") - 1))
               .otherwise(F.array().cast("array<int>")))
        pairs = (words
                 .select("freq", F.explode(idx).alias("i"), "syms")
                 .select(F.element_at("syms", F.col("i")).alias("l"),
                         F.element_at("syms", F.col("i") + 1).alias("r"),
                         "freq")
                 .groupBy("l", "r")
                 .agg(F.sum("freq").cast("long").alias("cnt")))
        best = (pairs.orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
                .limit(1).collect())
        if not best:
            break
        a, b, cnt = best[0]["l"], best[0]["r"], int(best[0]["cnt"])
        merges.append((r, a, b, a + b, cnt))
        nxt = words.withColumn(
            "syms", merge_fold(F.col("syms"), a, b)).persist()
        nxt.count()
        words.unpersist()
        words = nxt
    merges_df = spark.createDataFrame(
        merges, "rank long, left_sym string, right_sym string, "
                "merged string, cnt long")
    if return_vocab:
        return merges_df, words
    words.unpersist()
    return merges_df


def bpe_encode(docs: DataFrame, merges: list[tuple[str, str]],
               text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Encode documents with a learned merge list → (doc_id, n_tokens,
    n_pieces, pieces_fp): token and piece counts plus md5 of the doc's
    full space-joined piece stream (the value a consumer verifies a
    re-encode against). `merges` is the collected (left_sym, right_sym)
    table IN RANK ORDER — a few hundred literals, inlined into the
    plan, so the encode is one zero-shuffle projection with no
    vocabulary join and correct behavior on out-of-vocabulary words."""
    def encode_token(t: Column) -> Column:
        syms = F.concat(F.split(t, "(?!$)"), F.array(F.lit(EOW)))
        for left, right in merges:
            syms = merge_fold(syms, left, right)
        return syms

    pieces = F.flatten(F.transform(tokens_expr(text_col), encode_token))
    return docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.size(tokens_expr(text_col)).cast("long").alias("n_tokens"),
        F.size(pieces).cast("long").alias("n_pieces"),
        F.md5(F.array_join(pieces, " ")).alias("pieces_fp"))


# --------------------------------------------------- unigram LM (Kudo) --
#
# SentencePiece's second algorithm (Kudo 2018, "Subword Regularization"):
# treat the vocabulary as a unigram language model over pieces, fit
# piece probabilities by EM over the segmentation lattice of each word,
# prune to the target size, and encode by Viterbi. Simplifications vs
# the sentencepiece binary, documented and test-pinned: seed vocab =
# most frequent substrings (explode, not ESA); M-step = MLE
# normalization (plain EM, no Bayesian digamma); prune = by expected
# count with single-chars always kept (not the leave-one-out loss).
#
# Scale shape (the same argument as BPE above): ONE corpus scan builds
# the word-frequency table; seeding explodes substrings of DISTINCT
# words only (vocab-bounded, ≤ max_piece_len × |word| pieces per
# distinct word); each EM iteration is one mapInPandas over the word
# table (forward-backward per word, numpy-scalar loops over ≤32-char
# words) plus one piece-keyed sum — dictionary-sized work regardless
# of corpus size. Encoding is doc-local Viterbi: zero shuffle.

import math as _math


def unigram_seed_vocab(word_counts: DataFrame, n_seed: int = 400,
                       max_piece_len: int = 8) -> DataFrame:
    """→ (piece, score) seed vocabulary: every character seen in the
    corpus plus the `n_seed` highest-scoring multi-char substrings
    (score = Σ freq over every occurrence in every word — the greedy
    stand-in for the suffix-array seeding; ties break piece-ascending
    for determinism)."""
    w = word_counts.select("word", "freq")
    pieces = w.select(
        F.explode(F.flatten(F.transform(
            F.sequence(F.lit(1), F.least(F.lit(max_piece_len),
                                         F.length("word"))),
            lambda ln: F.transform(
                F.sequence(F.lit(1), F.length("word") - ln + 1),
                lambda i: F.col("word").substr(i, ln))))).alias("piece"),
        F.col("freq"))
    scored = pieces.groupBy("piece").agg(F.sum("freq").alias("score"))
    chars = scored.where(F.length("piece") == 1)
    multi = (scored.where(F.length("piece") > 1)
             .orderBy(F.desc("score"), F.asc("piece")).limit(n_seed))
    return chars.unionByName(multi)


def _lattice_kernel(vocab: dict, max_len: int, mode: str):
    """Shared word-lattice kernel: mode='estep' emits expected piece
    counts (+ one `\\x00ll` log-likelihood row per batch); mode='viterbi'
    emits the best segmentation per word."""
    import numpy as np
    import pandas as pd
    NEG = float("-inf")

    def forward(word):
        n = len(word)
        alpha = [NEG] * (n + 1)
        alpha[0] = 0.0
        for i in range(1, n + 1):
            acc = NEG
            for j in range(max(0, i - max_len), i):
                lp = vocab.get(word[j:i])
                if lp is not None and alpha[j] != NEG:
                    x = alpha[j] + lp
                    acc = x if acc == NEG else np.logaddexp(acc, x)
            alpha[i] = acc
        return alpha

    def estep(batches):
        for pdf in batches:
            agg: dict = {}
            ll = 0.0
            for word, freq in zip(pdf["word"], pdf["freq"]):
                n = len(word)
                alpha = forward(word)
                if alpha[n] == NEG:
                    continue               # unsegmentable (no chars)
                beta = [NEG] * (n + 1)
                beta[n] = 0.0
                for i in range(n - 1, -1, -1):
                    acc = NEG
                    for j in range(i + 1, min(n, i + max_len) + 1):
                        lp = vocab.get(word[i:j])
                        if lp is not None and beta[j] != NEG:
                            x = lp + beta[j]
                            acc = x if acc == NEG else np.logaddexp(acc, x)
                    beta[i] = acc
                z = alpha[n]
                ll += float(freq) * z
                for i in range(n):
                    if alpha[i] == NEG:
                        continue
                    for j in range(i + 1, min(n, i + max_len) + 1):
                        lp = vocab.get(word[i:j])
                        if lp is not None and beta[j] != NEG:
                            e = _math.exp(alpha[i] + lp + beta[j] - z) \
                                * float(freq)
                            if e > 0.0:
                                k = word[i:j]
                                agg[k] = agg.get(k, 0.0) + e
            agg["\x00ll"] = ll             # batch log-likelihood rider
            yield pd.DataFrame({"piece": list(agg),
                                "e_count": [agg[k] for k in agg]})

    def viterbi(batches):
        for pdf in batches:
            segs = []
            for word in pdf["word"]:
                n = len(word)
                best = [NEG] * (n + 1)
                back = [0] * (n + 1)
                best[0] = 0.0
                for i in range(1, n + 1):
                    for j in range(max(0, i - max_len), i):
                        lp = vocab.get(word[j:i])
                        if lp is None or best[j] == NEG:
                            continue
                        x = best[j] + lp
                        # strict > ⇒ ties keep the SMALLEST j already
                        # found... scan j ascending, so keep first max:
                        if x > best[i]:
                            best[i], back[i] = x, j
                if best[n] == NEG:
                    segs.append(list(word))   # unseen chars: passthrough
                    continue
                out, i = [], n
                while i > 0:
                    out.append(word[back[i]:i])
                    i = back[i]
                segs.append(out[::-1])
            yield pd.DataFrame({"word": pdf["word"], "pieces": segs})

    return estep if mode == "estep" else viterbi


def unigram_estep(word_counts: DataFrame, vocab: dict,
                  max_piece_len: int = 8) -> DataFrame:
    """One EM E-step → (piece, e_count) expected counts plus the
    `\\x00ll` log-likelihood rider rows (sum them for the corpus LL).

    The lattice kernel's input width is EXPLICIT (the engine/daat.py
    precedent): word_counts arrives off a groupBy exchange whose BYTES
    are tiny (a distinct-word table) while the per-word
    forward/backward compute is the whole cost of EM — the session's
    size-first AQE coalescing would fold it to one task and serialize
    every iteration. Round-robin repartition at 2× cores is
    compute-balanced (words are exchangeable) and never coalesced."""
    kern = _lattice_kernel(vocab, max_piece_len, "estep")
    n_part = word_counts.sparkSession.sparkContext.defaultParallelism * 2
    return (word_counts.select("word", "freq")
            .repartition(n_part)
            .mapInPandas(kern, schema="piece string, e_count double")
            .groupBy("piece").agg(F.sum("e_count").alias("e_count")))


def unigram_train(docs: DataFrame, vocab_size: int = 120,
                  n_seed: int = 400, n_iter: int = 2,
                  max_piece_len: int = 8,
                  text_col: str = "text") -> list[tuple[str, float]]:
    """Train the unigram LM: seed → `n_iter` EM sweeps on the full
    seed vocab → prune to `vocab_size` (single chars always survive) →
    one re-normalizing EM sweep on the pruned vocab. Returns the
    collected [(piece, logp)] vocabulary (dictionary-sized by
    construction — the same driver-state budget as the BPE merge
    table), logp descending then piece ascending."""
    wc = bpe_word_counts(docs, text_col).select("word", "freq").persist()
    try:
        seed = unigram_seed_vocab(wc, n_seed, max_piece_len).collect()
        total = sum(r["score"] for r in seed) or 1.0
        vocab = {r["piece"]: _math.log(r["score"] / total) for r in seed}

        def em_sweep(v: dict) -> dict:
            rows = unigram_estep(wc, v, max_piece_len).collect()
            counts = {r["piece"]: r["e_count"] for r in rows
                      if r["piece"] != "\x00ll"}
            tot = sum(counts.values()) or 1.0
            return {p: _math.log(c / tot) for p, c in counts.items()
                    if c > 0.0}

        for _ in range(n_iter):
            vocab = em_sweep(vocab)
        # prune: keep all single chars + the top multi-char pieces by
        # probability (≈ expected count; same ordering), ties ascending
        chars = {p for p in vocab if len(p) == 1}
        multi = sorted((p for p in vocab if len(p) > 1),
                       key=lambda p: (-vocab[p], p))
        keep = chars | set(multi[:max(0, vocab_size - len(chars))])
        vocab = {p: lp for p, lp in vocab.items() if p in keep}
        vocab = em_sweep(vocab)            # re-normalize on pruned set
        return sorted(vocab.items(), key=lambda kv: (-kv[1], kv[0]))
    finally:
        wc.unpersist()


def unigram_encode(docs: DataFrame, vocab: list[tuple[str, float]],
                   max_piece_len: int = 8,
                   text_col: str = "text") -> DataFrame:
    """→ (doc_id, pieces array<string>): per-token Viterbi segmentation
    under the unigram LM, concatenated in token order. Doc-local
    mapInPandas — ZERO shuffle, the encode-pass shape of `bpe_encode`;
    the vocab rides in the closure (dictionary-sized broadcast).
    Unsegmentable tokens (unseen characters) pass through as single
    characters rather than failing the pipeline."""
    vdict = dict(vocab)
    kern = _lattice_kernel(vdict, max_piece_len, "viterbi")

    import pandas as pd

    def doc_kernel(batches):
        for pdf in batches:
            # Viterbi once per DISTINCT token in the Arrow batch, then
            # reassemble — heavy-hitter words segment once, not per use
            uniq = sorted({t for toks in pdf["toks"] for t in toks})
            seg: dict = {}
            for frame in kern([pd.DataFrame({"word": uniq})]):
                for w, s in zip(frame["word"], frame["pieces"]):
                    seg[w] = list(s)
            out = [[p for t in toks for p in seg[t]]
                   for toks in pdf["toks"]]
            yield pd.DataFrame({"doc_id": pdf["doc_id"].astype("int64"),
                                "pieces": out})

    return (docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                        tokens_expr(text_col).alias("toks"))
            .mapInPandas(doc_kernel,
                         schema="doc_id long, pieces array<string>"))
