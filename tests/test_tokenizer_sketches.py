"""pipeline.tokenizer (BPE train/encode) + pipeline.sketches (count-min)
against plain-Python references on planted corpora."""
import hashlib
import re
from collections import Counter
from types import SimpleNamespace

from pyspark.sql import functions as F

from search_engines_spark.pipeline import sketches as sk
from search_engines_spark.pipeline import tokenizer as tk

DOCS = [
    (1, "the cat sat on the mat"),
    (2, "the cats sat on the mats"),
    (3, "a cat and a mat and a hat"),
    (4, "hats and mats and cats galore"),
    (5, "aaa aaaa aa"),          # (a,a)-style self-pairs: fold == scan
    (6, ""),
    (7, None),
]


def _tok(t):
    return [w for w in re.split(r"[^a-z0-9]+", (t or "").lower()) if w]


def _ref_train(docs, n):
    wc = Counter(w for _, t in docs for w in _tok(t))
    vocab = {w: [*w, "_"] for w in wc}
    merges = []
    for r in range(1, n + 1):
        pc = Counter()
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += wc[w]
        if not pc:
            break
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((r, a, b, a + b, cnt))
        for w, syms in vocab.items():
            vocab[w] = _ref_apply(syms, a, b)
    return merges, vocab


def _ref_apply(syms, a, b):
    out = [syms[0]]
    for x in syms[1:]:
        if out[-1] == a and x == b:
            out[-1] = a + b
        else:
            out.append(x)
    return out


def _ref_encode(t, merges):
    pieces = []
    for w in _tok(t):
        syms = [*w, "_"]
        for a, b in merges:
            syms = _ref_apply(syms, a, b)
        pieces.extend(syms)
    return (len(_tok(t)), len(pieces),
            hashlib.md5(" ".join(pieces).encode()).hexdigest())


def _ddf(spark, docs=DOCS):
    return spark.createDataFrame(docs, "doc_id long, text string")


def test_bpe_train_matches_reference(spark):
    want, ref_vocab = _ref_train(DOCS, 6)
    mdf, vocab = tk.bpe_train(_ddf(spark), num_merges=6, return_vocab=True)
    got = [(r["rank"], r["left_sym"], r["right_sym"], r["merged"],
            r["cnt"]) for r in mdf.orderBy("rank").collect()]
    assert got == want
    got_vocab = {r["word"]: r["syms"] for r in vocab.collect()}
    assert got_vocab == {w: s for w, s in ref_vocab.items()}
    vocab.unpersist()


def test_bpe_train_stops_when_pairs_run_dry(spark):
    docs = [(1, "a a b")]
    # round 1 merges (a,_), round 2 (b,_); then every word is one
    # symbol — no pairs left, so 10 requested rounds yield 2 rows
    mdf = tk.bpe_train(_ddf(spark, docs), num_merges=10)
    rows = mdf.orderBy("rank").collect()
    assert [(r["merged"], r["cnt"]) for r in rows] == [("a_", 2), ("b_", 1)]


def test_bpe_encode_matches_reference_including_oov(spark):
    merges_full, _ = _ref_train(DOCS, 6)
    merges = [(a, b) for _, a, b, _, _ in merges_full]
    # encode a corpus CONTAINING OOV words with the DOCS-trained merges
    docs = DOCS + [(8, "concatenation chats the thematic")]
    got = {r["doc_id"]: (r["n_tokens"], r["n_pieces"], r["pieces_fp"])
           for r in tk.bpe_encode(_ddf(spark, docs), merges).collect()}
    for i, t in docs:
        assert got[i] == _ref_encode(t, merges), (i, t)


def test_bpe_encode_is_zero_shuffle(spark):
    merges = [("t", "h"), ("th", "e"), ("the", "_")]
    plan = tk.bpe_encode(_ddf(spark), merges) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_cms_heavy_hitters_match_exact_and_never_undercount(spark):
    hh = sk.cms_heavy_hitters(_ddf(spark), k=10, width=64).collect()
    exact = Counter(w for _, t in DOCS for w in _tok(t))
    want = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert all(r["est"] >= r["exact"] for r in hh)
    # with width 64 >> vocab there are no collisions: est == exact and
    # the top-k IS the exact top-k
    assert [(r["token"], r["exact"]) for r in hh] == want
    assert all(r["est"] == r["exact"] for r in hh)


def test_cms_tiny_width_overcounts_but_never_undercounts(spark):
    hh = sk.cms_heavy_hitters(_ddf(spark), k=30, width=4).collect()
    exact = Counter(w for _, t in DOCS for w in _tok(t))
    # reference estimate: min over the 4 salted-md5 cells
    cells = Counter()
    for t, c in exact.items():
        for row in range(4):
            h = int(hashlib.md5(f"cms{row}|{t}".encode())
                    .hexdigest()[:8], 16) % 4
            cells[(row, h)] += c
    for r in hh:
        want = min(cells[(row, int(hashlib.md5(
            f"cms{row}|{r['token']}".encode()).hexdigest()[:8], 16) % 4)]
            for row in range(4))
        assert r["est"] == want
        assert r["est"] >= r["exact"]
    assert any(r["est"] > r["exact"] for r in hh)   # collisions happened


def test_cms_sketches_merge_by_cell_addition(spark):
    a = _ddf(spark, DOCS[:3])
    b = _ddf(spark, DOCS[3:])
    both = _ddf(spark)
    merged = (sk.cms_build(a).unionByName(sk.cms_build(b))
              .groupBy("row", "bucket")
              .agg(F.sum("cnt").cast("long").alias("cnt")))
    whole = sk.cms_build(both)
    assert sorted(map(tuple, merged.collect())) \
        == sorted(map(tuple, whole.collect()))


def test_cms_empty_corpus(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    out = sk.cms_heavy_hitters(empty, k=5)
    assert out.columns == ["token", "est", "exact"]
    assert out.count() == 0


# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------

def _ref_hll(values):
    """Pure-python register replay: salted md5 prefix hashes, string-
    domain rho semantics (leading zero bits of the 32-bit value + 1)."""
    reg = {}
    for t in set(values):
        v = int(hashlib.md5(f"hll|{t}".encode()).hexdigest()[:8], 16)
        rho = 33 if v == 0 else 32 - v.bit_length() + 1
        b = int(hashlib.md5(f"hllb|{t}".encode()).hexdigest()[:8], 16) % 256
        reg[b] = max(reg.get(b, 0), rho)
    return reg


def _ref_hll_estimate(reg, m=256.0):
    import math
    s = sum(2.0 ** -r for r in reg.values()) + (m - len(reg))
    raw = (0.7213 / (1.0 + 1.079 / m)) * m * m / s
    v = m - len(reg)
    est = m * math.log(m / v) if (v > 0 and raw <= 2.5 * m) else raw
    return math.floor(est * 1e6 + 0.5)


def test_hll_registers_match_python_replay_and_ignore_duplicates(spark):
    els = [f"tok{i}" for i in range(400)] * 3        # duplicates
    df = spark.createDataFrame([(t,) for t in els], "t string")
    got = {r["bucket"]: r["r"] for r in sk.hll_build(df, "t").collect()}
    assert got == _ref_hll(els)
    # re-observation can never raise a register
    once = {r["bucket"]: r["r"]
            for r in sk.hll_build(df.distinct(), "t").collect()}
    assert got == once


def test_hll_merge_is_exact_union(spark):
    els = [f"w{i}" for i in range(300)]
    df = spark.createDataFrame([(t,) for t in els], "t string")
    a = sk.hll_build(df.where("t < 'w2'"), "t")
    b = sk.hll_build(df.where("t >= 'w2'"), "t")
    merged = {r["bucket"]: r["r"] for r in sk.hll_merge(a, b).collect()}
    whole = {r["bucket"]: r["r"] for r in sk.hll_build(df, "t").collect()}
    assert merged == whole


def test_hll_estimate_linear_counting_branch(spark):
    # small cardinality -> empty registers remain -> m*ln(m/V) branch
    els = [f"tok{i}" for i in range(120)]
    df = spark.createDataFrame([(t,) for t in els], "t string")
    reg = _ref_hll(els)
    row = sk.hll_estimate(sk.hll_build(df, "t")).collect()[0]
    assert row["nonempty_buckets"] == len(reg)
    assert row["est_micro"] == _ref_hll_estimate(reg)
    assert abs(row["est_micro"] / 1e6 - 120) / 120 < 0.15


def test_hll_estimate_raw_branch_and_error_bound(spark):
    # 5000 distinct values fill essentially every register -> raw branch
    els = [f"item-{i}" for i in range(5000)]
    df = spark.createDataFrame([(t,) for t in els], "t string")
    reg = _ref_hll(els)
    m, v = 256.0, 256.0 - len(reg)
    s = sum(2.0 ** -r for r in reg.values()) + v
    raw = (0.7213 / (1.0 + 1.079 / m)) * m * m / s
    assert not (v > 0 and raw <= 2.5 * m)     # really the raw branch
    row = sk.hll_estimate(sk.hll_build(df, "t")).collect()[0]
    assert row["est_micro"] == _ref_hll_estimate(reg)
    # 1.04/sqrt(256) ~ 6.5% standard error; allow 3 sigma
    assert abs(row["est_micro"] / 1e6 - 5000) / 5000 < 0.20


def test_hll_token_cardinality_over_documents(spark):
    docs = _ddf(spark)
    row = sk.hll_token_cardinality(docs).collect()[0]
    vocab = {w for _, t in DOCS for w in _tok(t)}
    reg = _ref_hll({w for _, t in DOCS for w in _tok(t)})
    assert row["exact_distinct"] == len(vocab)
    assert row["nonempty_buckets"] == len(reg)
    assert row["est_micro"] == _ref_hll_estimate(reg)


# ---------------------------------------------------------------------------
# Bloom filter
# ---------------------------------------------------------------------------

def _ref_bloom_bits(values, m=4096, k=3):
    bits = set()
    for t in values:
        for i in range(k):
            bits.add(int(hashlib.md5(f"bloom{i}|{t}".encode())
                         .hexdigest()[:8], 16) % m)
    return bits


def test_bloom_bits_match_python_replay(spark):
    els = [f"gram {i} x" for i in range(150)]
    df = spark.createDataFrame([(t,) for t in els], "g string")
    got = sorted(r["bit"] for r in sk.bloom_build(df, "g").collect())
    assert got == sorted(_ref_bloom_bits(els))


def test_bloom_merge_is_bitwise_or(spark):
    els = [f"gram {i} x" for i in range(150)]
    df = spark.createDataFrame([(t,) for t in els], "g string")
    a = sk.bloom_build(df.where("g < 'gram 5'"), "g")
    b = sk.bloom_build(df.where("g >= 'gram 5'"), "g")
    merged = sorted(r["bit"] for r in sk.bloom_merge(a, b).collect())
    whole = sorted(r["bit"] for r in sk.bloom_build(df, "g").collect())
    assert merged == whole


def test_bloom_membership_no_false_negatives_fp_rate(spark):
    from pyspark.sql import functions as F
    members = [f"gram {i} x" for i in range(200)]
    df = spark.createDataFrame([(t,) for t in members], "g string")
    words = sk._bloom_words(sorted(
        r["bit"] for r in sk.bloom_build(df, "g").collect()))
    probes = spark.createDataFrame(
        [(t,) for t in members] + [(f"absent {i}",) for i in range(500)],
        "g string")
    got = probes.select(
        "g", sk.bloom_might_contain(F.col("g"), words).alias("hit")).collect()
    assert all(r.hit for r in got if not r.g.startswith("absent"))
    fp = sum(bool(r.hit) for r in got if r.g.startswith("absent"))
    # (1 - e^{-kn/m})^k ~ 0.2% at n=200; 3-sigma headroom
    assert fp <= 10


def _exact_decontam(docs, bench, k=5):
    """Python reference: per doc, distinct word-k-grams and how many of
    them occur in any bench doc → {doc_id: (n_grams, n_hits, flag)}."""
    def grams(text):
        toks = [t for t in re.split("[^a-z0-9]+", text.lower()) if t]
        return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}
    bench_grams = set().union(*(grams(t) for _, t in bench))
    out = {}
    for d, t in docs:
        g = grams(t)
        hits = len(g & bench_grams)
        out[d] = (len(g), hits, int(hits >= 1))
    return out


def test_bloom_decontam_one_sided_vs_exact(spark):
    doc_rows = ([(i, " ".join(f"w{i}_{j}" for j in range(12)))
                 for i in range(40)]
                + [(100 + i, " ".join(f"b{i}_{j}" for j in range(12)))
                   for i in range(5)])
    bench_rows = [(1000 + i, " ".join(f"b{i}_{j}" for j in range(12)))
                  for i in range(5)]
    docs = spark.createDataFrame(doc_rows, "doc_id long, text string")
    bench = spark.createDataFrame(bench_rows, "doc_id long, text string")
    bl = {r.doc_id: r for r in sk.bloom_decontam_scan(docs, bench).collect()}
    ex = {d: SimpleNamespace(n_grams=n, n_hits=h, contaminated=c)
          for d, (n, h, c) in _exact_decontam(doc_rows, bench_rows).items()}
    # the planted docs really are contaminated, the rest really clean
    assert {d for d in ex if ex[d].contaminated} == set(range(100, 105))
    assert set(bl) == set(ex)
    for d in bl:
        assert bl[d].n_grams == ex[d].n_grams
        assert bl[d].n_hits_bloom >= ex[d].n_hits     # one-sided, per doc
    # every exactly-contaminated doc is bloom-flagged
    assert {d for d in ex if ex[d].contaminated} \
        <= {d for d in bl if bl[d].flagged}


def test_bloom_decontam_empty_bench_flags_nothing(spark):
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(12))) for i in range(10)],
        "doc_id long, text string")
    bench = spark.createDataFrame([], "doc_id long, text string")
    out = sk.bloom_decontam_scan(docs, bench).collect()
    assert len(out) == 10
    assert all(r.flagged == 0 and r.n_hits_bloom == 0 for r in out)


# ---------------------------------------------------------------------------
# Log2 histogram + quantiles
# ---------------------------------------------------------------------------

def test_log2_histogram_matches_bit_length(spark):
    vals = [0, 1, 1, 2, 3, 5, 8, 13, 21, 34, 55, 89, 144, 233, 377,
            610, 987] * 3
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {r.bucket: r.cnt for r in sk.log2_histogram(df, "v").collect()}
    ref = {}
    for v in vals:
        b = v.bit_length() if v > 0 else 1
        ref[b] = ref.get(b, 0) + 1
    assert got == ref


def test_log2_histogram_merge_is_addition(spark):
    vals = list(range(100))
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    a = sk.log2_histogram(df.where("v < 40"), "v")
    b = sk.log2_histogram(df.where("v >= 40"), "v")
    merged = {r.bucket: r.cnt
              for r in sk.histogram_merge(a, b).collect()}
    whole = {r.bucket: r.cnt
             for r in sk.log2_histogram(df, "v").collect()}
    assert merged == whole


def test_histogram_quantiles_bracket_true_quantiles(spark):
    import math
    vals = [0, 1, 1, 2, 3, 5, 8, 13, 21, 34, 55, 89, 144, 233, 377,
            610, 987] * 3
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    rows = sk.histogram_quantiles(sk.log2_histogram(df, "v")).collect()
    svals = sorted(vals)
    assert [r.q_permille for r in rows] == [50, 250, 500, 750, 950]
    for r in rows:
        idx = max(0, math.ceil(r.q_permille / 1000 * len(svals)) - 1)
        true_q = svals[idx]
        assert r.lo <= true_q <= r.hi          # provable bracket
        # bounds are the power-of-two bucket edges
        assert (r.lo, r.hi) == ((0, 1) if r.bucket == 1 else
                                (1 << (r.bucket - 1), (1 << r.bucket) - 1))


def test_histogram_quantiles_empty_input(spark):
    empty = spark.createDataFrame([], "v long")
    assert sk.histogram_quantiles(sk.log2_histogram(empty, "v")) \
        .count() == 0


# ------------------------------------------------ unigram LM (Kudo) --


def _enum_segs(word, vocab, max_len=8):
    """All segmentations of `word` into vocab pieces, with log-probs —
    the brute-force oracle for the lattice kernels."""
    import math
    if word == "":
        return [([], 0.0)]
    out = []
    for ln in range(1, min(max_len, len(word)) + 1):
        head = word[:ln]
        if head in vocab:
            for rest, lp in _enum_segs(word[ln:], vocab, max_len):
                out.append(([head] + rest, vocab[head] + lp))
    return out


def test_unigram_estep_matches_enumeration(spark):
    import math
    vocab = {"a": math.log(0.3), "b": math.log(0.2), "ab": math.log(0.25),
             "ba": math.log(0.15), "aba": math.log(0.1)}
    words = [("aba", 3), ("ab", 2), ("bb", 1)]
    wc = spark.createDataFrame(words, "word string, freq long")
    got = {r["piece"]: r["e_count"]
           for r in tk.unigram_estep(wc, vocab).collect()}
    # brute-force expected counts + log-likelihood
    want: dict = {}
    ll = 0.0
    for word, freq in words:
        segs = _enum_segs(word, vocab)
        z = math.log(sum(math.exp(lp) for _, lp in segs))
        ll += freq * z
        for seg, lp in segs:
            w = math.exp(lp - z) * freq
            for p in seg:
                want[p] = want.get(p, 0.0) + w
    for p, e in want.items():
        assert abs(got[p] - e) < 1e-9, p
    assert abs(got["\x00ll"] - ll) < 1e-9
    assert set(got) == set(want) | {"\x00ll"}


def test_unigram_em_loglik_nondecreasing(spark):
    import math
    docs = spark.createDataFrame(
        [(i, "the data table joins the data stream " * 2)
         for i in range(4)] + [(9, "spark scans the data")],
        "doc_id long, text string")
    wc = tk.bpe_word_counts(docs).select("word", "freq").persist()
    seed = tk.unigram_seed_vocab(wc, n_seed=60, max_piece_len=5).collect()
    total = sum(r["score"] for r in seed)
    vocab = {r["piece"]: math.log(r["score"] / total) for r in seed}
    lls = []
    for _ in range(3):
        rows = tk.unigram_estep(wc, vocab, 5).collect()
        lls.append(sum(r["e_count"] for r in rows
                       if r["piece"] == "\x00ll"))
        counts = {r["piece"]: r["e_count"] for r in rows
                  if r["piece"] != "\x00ll"}
        tot = sum(counts.values())
        vocab = {p: math.log(c / tot) for p, c in counts.items() if c > 0}
    wc.unpersist()
    assert lls == sorted(lls), f"EM log-likelihood decreased: {lls}"


def test_unigram_viterbi_matches_enumeration_argmax(spark):
    import math
    vocab = [("a", math.log(0.3)), ("b", math.log(0.2)),
             ("ab", math.log(0.25)), ("ba", math.log(0.15)),
             ("aba", math.log(0.1))]
    docs = spark.createDataFrame([(1, "aba ab abab"), (2, "bb aab")],
                                 "doc_id long, text string")
    enc = {r["doc_id"]: r["pieces"]
           for r in tk.unigram_encode(docs, vocab).collect()}
    vd = dict(vocab)
    for doc_id, text in [(1, "aba ab abab"), (2, "bb aab")]:
        want = []
        for tok in text.split():
            segs = _enum_segs(tok, vd)
            best = max(segs, key=lambda sl: sl[1])
            # the kernel's tie rule: scan j ascending per position,
            # strict improvement only — equal-prob ties keep the
            # segmentation the enumeration lists FIRST among maxima
            # (same left-to-right preference); no planted ties here
            assert sum(1 for _, lp in segs
                       if abs(lp - best[1]) < 1e-12) == 1
            want.extend(best[0])
        assert enc[doc_id] == want


def test_unigram_encode_oov_chars_pass_through(spark):
    import math
    vocab = [("a", math.log(0.5)), ("b", math.log(0.5))]
    docs = spark.createDataFrame([(1, "ab zq")], "doc_id long, text string")
    enc = tk.unigram_encode(docs, vocab).collect()[0]["pieces"]
    assert enc == ["ab"[:1], "b", "z", "q"] or enc == ["a", "b", "z", "q"]


def test_unigram_train_end_to_end(spark):
    docs = spark.createDataFrame(
        [(i, "stream streams streaming streamer scan scans ") for i in
         range(3)],
        "doc_id long, text string")
    vocab = tk.unigram_train(docs, vocab_size=30, n_seed=80, n_iter=2,
                             max_piece_len=6)
    pieces = {p for p, _ in vocab}
    # every corpus character survives pruning
    chars = set("".join(w for w in
                        "stream streams streaming streamer scan scans"
                        .split()))
    assert chars <= pieces
    # the dominant substring is learned as a multi-char piece
    assert any(p in pieces for p in ("stream", "strea", "trea", "rea"))
    # probabilities normalize
    import math
    assert abs(sum(math.exp(lp) for _, lp in vocab) - 1.0) < 1e-6
    # encode round-trip: concatenated pieces reproduce each token's text
    enc = tk.unigram_encode(docs.limit(1), vocab, max_piece_len=6) \
        .collect()[0]["pieces"]
    assert "".join(enc) == "".join(
        "stream streams streaming streamer scan scans".split())


def test_unigram_em_monotone_property(spark):
    """EM log-likelihood is non-decreasing on RANDOM corpora, not just
    the planted one — hypothesis over word sets and seed sizes."""
    import math

    from hypothesis import given, settings, strategies as st

    @settings(max_examples=5, deadline=None)
    @given(st.integers(0, 2**31 - 1), st.integers(20, 60))
    def check(seed, n_seed):
        import numpy as np
        rs = np.random.RandomState(seed)
        alphabet = "abcd"
        words = ["".join(rs.choice(list(alphabet),
                                   size=rs.randint(2, 7)))
                 for _ in range(12)]
        text = " ".join(words)
        docs = spark.createDataFrame([(1, text), (2, text)],
                                     "doc_id long, text string")
        wc = tk.bpe_word_counts(docs).select("word", "freq").persist()
        seed_rows = tk.unigram_seed_vocab(wc, n_seed=n_seed,
                                          max_piece_len=4).collect()
        total = sum(r["score"] for r in seed_rows)
        vocab = {r["piece"]: math.log(r["score"] / total)
                 for r in seed_rows}
        lls = []
        for _ in range(2):
            rows = tk.unigram_estep(wc, vocab, 4).collect()
            lls.append(sum(r["e_count"] for r in rows
                           if r["piece"] == "\x00ll"))
            counts = {r["piece"]: r["e_count"] for r in rows
                      if r["piece"] != "\x00ll"}
            tot = sum(counts.values())
            vocab = {p: math.log(c / tot)
                     for p, c in counts.items() if c > 0}
        wc.unpersist()
        assert lls[1] >= lls[0] - 1e-9, lls

    check()
