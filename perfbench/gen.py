"""Seeded corpus and query generator for the benchmark.

Everything the engine sees in a benchmark run comes from here, and the
same seed always gives the same bytes:

* a Zipf(1) corpus: token ranks r = 1..VOCAB drawn with P(r) ∝ 1/r, the
  token for rank r is the string ``t<r>`` (never a stopword), document
  lengths are uniform in [LEN_LO, LEN_HI], and ext_id is ``doc`` +
  the zero-padded doc_id (order-isomorphic to doc_id, so the engine's
  doc_id tie-break equals the reference's ext_id tie-break);
* query files drawn from three frequency bands of that vocabulary —
  common, mid and rare ranks — through fixed query templates per
  retrieval model;
* an interactive stream that repeats a stated share of its queries.
"""

from __future__ import annotations

import numpy as np

# rank bands (1-based Zipf ranks), narrow enough that the work of one
# template varies little between seeds; at 2k docs of ~80 tokens a
# rare-band term is expected about 3 to 14 times
COMMON = (10, 40)
MID = (150, 600)
RARE = (1000, 4000)
VOCAB = 50_000
LEN_LO, LEN_HI = 40, 120
REPEAT_SHARE = 0.25   # share of an interactive pass that repeats a query


def zipf_corpus(seed: int, n_docs: int) -> list[str]:
    """→ n_docs document texts; doc i has doc_id i."""
    rng = np.random.default_rng([seed, n_docs, VOCAB])
    p = 1.0 / np.arange(1, VOCAB + 1)
    p /= p.sum()
    lens = rng.integers(LEN_LO, LEN_HI + 1, size=n_docs)
    ranks = rng.choice(VOCAB, size=int(lens.sum()), p=p) + 1
    words = np.char.add("t", np.arange(VOCAB + 1).astype(str)).astype(object)
    toks = words[ranks]
    cuts = np.cumsum(lens)[:-1]
    return [" ".join(d) for d in np.split(toks, cuts)]


def ext_id(doc_id: int) -> str:
    return f"doc{doc_id:09d}"


class _Bands:
    def __init__(self, rng: np.random.Generator):
        self.rng = rng

    def pick(self, band: tuple[int, int]) -> str:
        return f"t{int(self.rng.integers(band[0], band[1] + 1))}"

    def common(self) -> str:
        return self.pick(COMMON)

    def mid(self) -> str:
        return self.pick(MID)

    def rare(self) -> str:
        return self.pick(RARE)


# one template per (model, shape); every query mixes bands so results
# are non-empty and the common-term postings dominate the scan
def _bm25_bow(b: _Bands) -> str:
    return f"{b.common()} {b.mid()} {b.rare()}"


def _bm25_near(b: _Bands) -> str:
    return f"#sum( #near/3( {b.common()} {b.common()} ) {b.mid()} )"


def _bm25_window(b: _Bands) -> str:
    return f"#sum( #window/8( {b.common()} {b.mid()} ) {b.rare()} )"


def _bm25_syn(b: _Bands) -> str:
    return f"#sum( #syn( {b.mid()} {b.mid()} ) {b.common()} )"


def _indri_and(b: _Bands) -> str:
    return f"#and( {b.common()} {b.mid()} {b.rare()} )"


def _indri_wsum(b: _Bands) -> str:
    return f"#wsum( 0.5 {b.common()} 0.3 {b.mid()} 0.2 {b.rare()} )"


def _indri_wand(b: _Bands) -> str:
    return f"#wand( 0.6 {b.common()} 0.4 {b.mid()} )"


def _bool_and(b: _Bands) -> str:
    return f"#and( {b.common()} {b.mid()} )"


INTERACTIVE_TEMPLATES = (
    ("bm25", _bm25_bow), ("bm25", _bm25_near), ("bm25", _bm25_window),
    ("bm25", _bm25_syn), ("indri", _indri_and), ("indri", _indri_wsum),
    ("indri", _indri_wand), ("rankedboolean", _bool_and),
)


class InteractiveStream:
    """The interactive workload's closed-loop query stream, one pass of
    len(INTERACTIVE_TEMPLATES) queries at a time, one per template.

    The first pass is all new queries. In every later pass exactly
    round(REPEAT_SHARE · templates) positions repeat an earlier query of
    the same template, chosen by the seed; the rest are new queries
    drawn from the frequency bands. Which positions repeat rotates from
    pass to pass but is the same for every seed, so the template mix and
    the repeated templates of a pass do not depend on the seed."""

    def __init__(self, seed: int):
        self.bands = _Bands(np.random.default_rng([seed, 1]))
        self.rng = np.random.default_rng([seed, 2])
        self.n_repeat = round(REPEAT_SHARE * len(INTERACTIVE_TEMPLATES))
        self.issued: list[list[str]] = [[] for _ in INTERACTIVE_TEMPLATES]
        self.passes = 0

    def next_pass(self) -> list[tuple[str, str]]:
        """→ [(model, query)]."""
        n = len(INTERACTIVE_TEMPLATES)
        every = n // self.n_repeat
        rep = ({j for j in range(n) if (j + self.passes) % every == 0}
               if self.passes else set())
        out = []
        for i, (model, tpl) in enumerate(INTERACTIVE_TEMPLATES):
            prev = self.issued[i]
            if i in rep:
                out.append((model, prev[int(self.rng.integers(len(prev)))]))
            else:
                q = tpl(self.bands)
                prev.append(q)
                out.append((model, q))
        self.passes += 1
        return out


def query_files(seed: int, n_bm25: int, n_indri: int, n_daat: int,
                n_struct: int) -> dict[str, dict[str, str]]:
    """The batch workload's four query files, {file: {qid: query}}. The
    store file ("struct") has a bag-of-words query second, so that shape
    is answered off the store by both search_daat_many and
    search_segments_many."""
    rng = np.random.default_rng([seed, 3])
    b = _Bands(rng)
    bm25 = (_bm25_bow, _bm25_near, _bm25_syn, _bm25_window)
    indri = (_indri_and, _indri_wsum, _indri_wand)
    struct = (_bm25_near, _bm25_bow, _bm25_window, _bm25_syn)
    return {
        "bm25": {f"b{i}": bm25[i % 4](b) for i in range(n_bm25)},
        "indri": {f"i{i}": indri[i % 3](b) for i in range(n_indri)},
        "daat": {f"d{i}": _bm25_bow(b) for i in range(n_daat)},
        "struct": {f"s{i}": struct[i % 4](b) for i in range(n_struct)},
    }
