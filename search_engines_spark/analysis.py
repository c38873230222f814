"""Canonical text-analysis pipeline, shared by index side, query side, and oracle.

The reference's analyzer chain (StandardTokenizer → EnglishPossessiveFilter →
LowerCase → StopFilter → KStem; `EnglishAnalyzerConfigurable.java:144-162`,
enabled flags `QryParser.java:45-47`) is replaced by ONE canonical pipeline
used byte-identically on the index side, the query side, and the pure-Python
oracle — the property rank-identity actually depends on.

Two load-bearing semantics carried over exactly from the reference:

* positions are assigned over ALL tokens (stopwords included) and `doclen`
  counts stopword positions (`Idx.java:84-90`,
  `DocLenStoreSimilarity.java:28-31`); only the *emission* of (term, pos)
  pairs skips stopwords (`EnglishAnalyzerConfigurable.java:153-154`);
* the stopword set is Lucene's classic 33-word English default
  (public: lucene `StopAnalyzer.ENGLISH_STOP_WORDS_SET`).

The default tokenizer is deliberately expressible as pure relational
expressions in BOTH Spark SQL and ANSI SQL (DuckDB oracle):

    tokens = filter(split(lower(text), '[^a-z0-9]+'), t -> t <> '')

so the hot path stays inside whole-stage codegen (JVM, no Python at all).

The full reference-parity chain — StandardTokenizer-analog word-break,
possessive stripping, and a Krovetz stemmer byte-identical to Lucene 4.3's
KStemFilter on a 164k-surface lookup table generated from the real filter
(tools/lucene_dump/) — is ``REFERENCE_PARITY`` and runs through the
Arrow-batched analyzer UDF (`analyze_udf`/`indexer.build_index_frames_
analyzed`). It is not the default because the simple chain is what DuckDB
can replay; the parity chain is gated by Lucene golden fixtures
(tests/test_analyzer_parity.py) and by engine-vs-oracle rank identity with
the chain ON (tests/test_engine_golden.py).
"""

from __future__ import annotations

import gzip
import os
import re
import unicodedata
from dataclasses import dataclass
from functools import lru_cache

# Lucene's classic English stop set (33 words) — public knowledge.
STOPWORDS: frozenset[str] = frozenset(
    """a an and are as at be but by for if in into is it no not of on or such
    that the their then there these they this to was will with""".split()
)

TOKEN_SPLIT_RE = re.compile(r"[^a-z0-9]+")

# The same tokenizer as SQL fragments, for engine/oracle parity.
SPARK_TOKENS_EXPR = "filter(split(lower({col}), '[^a-z0-9]+'), t -> t <> '')"
DUCKDB_TOKENS_EXPR = (
    "list_filter(regexp_split_to_array(lower({col}), '[^a-z0-9]+'), t -> t <> '')"
)
STOPWORDS_SQL_LIST = ", ".join(f"'{w}'" for w in sorted(STOPWORDS))


def tokenize(text: str) -> list[str]:
    """All tokens (stopwords included), lowercased. Position i+1 = token i."""
    if not text:
        return []
    return [t for t in TOKEN_SPLIT_RE.split(text.lower()) if t]


# ------------------------------------ StandardTokenizer (UAX#29, Unicode 6.1) --

# UAX#29 word-break as StandardTokenizer (Lucene 4.3 / Unicode 6.1)
# applies it, verified case-by-case against the real chain
# (tools/lucene_dump/AnalyzerDump.java → tests/fixtures/
# analyzer_golden_*.txt, including the Unicode probe block):
#
# * ALetter/Numeric runs join across each other (WB5/8/9/10): "i18n",
#   "a_1" one token; underscore (Pc) is ExtendNumLet and may START or
#   END a token ("_foo", "bar_" — WB13a/b).
# * Single MidLetter (: · U+05F4 …) or MidNumLet (' . ’ ＇ ．) joins
#   letter⋯letter; single MidNum (, ; …) or MidNumLet joins digit⋯digit
#   (WB6/7/11/12). Both sides must be the SAME side-class: "3.x" and
#   "a'1" break; "3'4", "3;4", "a.b.c" join. Two mids in a row break
#   ("a..b").
# * Extend (Mn/Mc/Me, ZWNJ/ZWJ) and Format (Cf: soft hyphen, LRM, …)
#   are transparent (WB4): they never break and stay IN the token
#   ("foo\xadbar", "café" one token each); leading ones drop.
# * Han and Hiragana emit one token PER CHARACTER; Katakana (incl.
#   halfwidth + U+30FC chouon) and Thai/Lao/Myanmar/Khmer emit
#   contiguous same-class runs; neither joins Latin or digits
#   ("testあtest" → 3 tokens, "ก1" → 2).
# * Hebrew geresh U+05F3 is ALetter in Unicode 6.1 ("מ׳ר" one token);
#   U+02BC is Lm → ALetter ("oʼs" one token, NOT possessive-stripped).
#
# Lowercasing is LowerCaseFilter's per-codepoint SIMPLE mapping, not
# str.lower()'s full/contextual one: "ΒΙΒΛΟΣ" → "βιβλοσ" (no final
# sigma), "İ" → plain "i" (no combining dot).
_WB_MIDLETTER = frozenset((0x3A, 0xB7, 0x5F4, 0x2027, 0xFE13, 0xFE55,
                           0xFF1A))
_WB_MIDNUMLET = frozenset((0x27, 0x2E, 0x2019, 0xFE52, 0xFF07, 0xFF0E))
_WB_MIDNUM = frozenset((0x2C, 0x3B, 0x37E, 0x589, 0x60C, 0x60D, 0x66C,
                        0x7F8, 0x2044, 0xFE10, 0xFE14, 0xFE50, 0xFE54,
                        0xFF0C, 0xFF1B))
# token-forming classes that continue a run of the same/compatible class
_WB_JOIN_OK = frozenset((
    ("AL", "AL"), ("AL", "NUM"), ("NUM", "AL"), ("NUM", "NUM"),
    ("KATA", "KATA"), ("SEA", "SEA"),
    ("ENL", "AL"), ("ENL", "NUM"), ("ENL", "KATA"), ("ENL", "ENL"),
    ("AL", "ENL"), ("NUM", "ENL"), ("KATA", "ENL"),
))


@lru_cache(maxsize=None)
def _wb_class(cp: int) -> str:
    """Word-break class of a codepoint (Unicode 6.1 subset Lucene uses)."""
    if cp < 128:  # ASCII fast path
        if 0x61 <= cp <= 0x7A or 0x41 <= cp <= 0x5A:
            return "AL"
        if 0x30 <= cp <= 0x39:
            return "NUM"
        if cp == 0x5F:
            return "ENL"
        if cp == 0x27 or cp == 0x2E:
            return "MNL"
        if cp == 0x3A:
            return "ML"
        if cp == 0x2C or cp == 0x3B:
            return "MN"
        return "X"
    if cp in _WB_MIDLETTER:
        return "ML"
    if cp in _WB_MIDNUMLET:
        return "MNL"
    if cp in _WB_MIDNUM:
        return "MN"
    if cp == 0x200C or cp == 0x200D:  # ZWNJ/ZWJ: Extend at Unicode 6.1
        return "EXT"
    if cp == 0x5F3:  # Hebrew geresh: ALetter at Unicode 6.1
        return "AL"
    ch = chr(cp)
    cat = unicodedata.category(ch)
    if cat in ("Mn", "Mc", "Me") or cat == "Cf":
        return "EXT"  # Extend / Format: transparent (WB4)
    if cat == "Pc":
        return "ENL"
    if cat == "Nd":
        return "NUM"
    if cat[0] == "L":
        if 0x3041 <= cp <= 0x309F:
            return "HIRA"
        if (0x30A0 <= cp <= 0x30FF or 0x31F0 <= cp <= 0x31FF
                or 0xFF66 <= cp <= 0xFF9F):
            return "KATA"
        if (0x2E80 <= cp <= 0x2EFF or 0x3400 <= cp <= 0x4DBF
                or 0x4E00 <= cp <= 0x9FFF or 0xF900 <= cp <= 0xFAFF
                or 0x20000 <= cp <= 0x2FA1F):
            return "IDEO"
        if (0x0E00 <= cp <= 0x0EFF or 0x1000 <= cp <= 0x109F
                or 0x1780 <= cp <= 0x17FF):
            return "SEA"
        return "AL"
    return "X"


# Simple (per-codepoint) lowercase exceptions where Python's full mapping
# is multi-char: only U+0130 İ (full: "i̇", simple: "i").
_SIMPLE_LOWER_FIX = {"İ": "i"}


@lru_cache(maxsize=None)
def _simple_lower(ch: str) -> str:
    fix = _SIMPLE_LOWER_FIX.get(ch)
    if fix is not None:
        return fix
    low = ch.lower()  # per-char: no final-sigma context, no full mappings
    return low if len(low) == 1 else ch


def _lower(token: str) -> str:
    if token.isascii():
        return token.lower()
    return "".join(_simple_lower(c) for c in token)


def tokenize_standard(text: str) -> list[str]:
    """StandardTokenizer-analog tokens, lowercased per-codepoint
    (joiners and transparent Extend/Format chars kept inside tokens)."""
    if not text:
        return []
    # collapse transparency (WB4): Extend/Format chars append to the
    # previous unit; leading ones drop
    units: list[tuple[str, str]] = []  # (class, chars)
    for ch in text:
        cls = _wb_class(ord(ch))
        if cls == "EXT":
            if units:
                prev_cls, prev_s = units[-1]
                units[-1] = (prev_cls, prev_s + ch)
            continue
        units.append((cls, ch))

    tokens: list[str] = []
    cur: list[str] = []
    prev_cls = ""  # base class of the last non-mid unit in cur

    def flush():
        nonlocal cur, prev_cls
        if cur:
            tokens.append("".join(cur))
            cur = []
        prev_cls = ""

    n = len(units)
    i = 0
    while i < n:
        cls, s = units[i]
        if cls in ("AL", "NUM", "KATA", "ENL", "SEA"):
            if cur and (prev_cls, cls) in _WB_JOIN_OK:
                cur.append(s)
            else:
                flush()
                cur = [s]
            prev_cls = cls
        elif cls in ("ML", "MNL", "MN"):
            nxt = units[i + 1][0] if i + 1 < n else ""
            if (cur and prev_cls == nxt
                    and ((prev_cls == "AL" and cls in ("ML", "MNL"))
                         or (prev_cls == "NUM" and cls in ("MN", "MNL")))):
                cur.append(s)  # WB6/7/11/12: single mid, same class both sides
            else:
                flush()
        elif cls in ("HIRA", "IDEO"):
            flush()
            tokens.append(s)  # one token per character (+ attached marks)
        else:  # X: break, discard
            flush()
        i += 1
    flush()
    return [_lower(t) for t in tokens]


# --------------------------------------------------------------- KStem table --

_KSTEM_TABLE_PATH = os.path.join(os.path.dirname(__file__), "data",
                                 "kstem.tsv.gz")
_kstem_table: dict[str, str] | None = None


def _load_kstem_table() -> dict[str, str]:
    """(surface → stem) lookup generated by running Lucene 4.3's real
    KStemFilter (public Apache artifact; see tools/lucene_dump/) over its
    own dictionary vocabulary plus programmatic suffix variants and the
    test-corpora vocabularies — 164k surfaces. A bare line means
    identity (the word is its own stem: important, because the fallback
    rules must NOT fire for dictionary words like 'dogs' that Lucene
    leaves unchanged)."""
    global _kstem_table
    if _kstem_table is None:
        try:
            with open(_KSTEM_TABLE_PATH, "rb") as f:
                raw = f.read()
        except OSError:
            # zip import (spark-submit --py-files): __file__ lives inside
            # the archive; importlib.resources reads through it
            from importlib.resources import files
            raw = (files("search_engines_spark") / "data"
                   / "kstem.tsv.gz").read_bytes()
        table = {}
        for line in gzip.decompress(raw).decode("utf-8").splitlines():
            if not line:
                continue
            if "\t" in line:
                s, st = line.split("\t", 1)
                table[s] = st
            else:
                table[line] = line
        _kstem_table = table
    return _kstem_table


def kstem(term: str) -> str:
    """Krovetz stem of a lowercase token: byte-identical to Lucene 4.3
    KStemFilter on the covered vocabulary (lookup table), suffix-rule
    approximation for out-of-vocabulary words.

    Gates carried from the real filter (probed via AnalyzerDump):
    non-alpha tokens (snake_case, digits, apostrophes) and tokens
    shorter than 3 chars are never stemmed. OOV fallback mimics the
    observed behavior: plural -s stripped (even post-sibilant: only the
    's', so 'zzzhashes'→'zzzhashe'), -ies/-ied→y, -ing→stem+e, long -ed
    strips the 'd'. Known fallback deltas vs the real filter exist for
    contrived OOV forms (e.g. 'zzzflies'); every natural-language word
    routes through the table."""
    if len(term) < 3 or not (term.isascii() and term.isalpha()):
        # KStemmer only touches pure a-z words — non-ASCII letters pass
        # through untouched (probed: 'cafés', 'müllers' unchanged)
        return term
    table = _load_kstem_table()
    hit = table.get(term)
    if hit is not None:
        return hit
    if term.endswith(("ies", "ied")) and len(term) > 4:
        return term[:-3] + "y"
    if term.endswith("s") and not term.endswith("ss") and len(term) > 3:
        return term[:-1]
    if term.endswith("ing") and len(term) > 5:
        return term[:-3] + "e"
    if term.endswith("ed") and len(term) > 6:
        return term[:-1]
    return term


@dataclass(frozen=True)
class Analyzer:
    """Configurable analyzer; ``Analyzer()`` is the canonical SQL-parity
    one, ``REFERENCE_PARITY`` the full Lucene-equivalent chain."""

    strip_possessive: bool = False  # "'s" (ref: EnglishPossessiveFilter)
    stem: bool = False              # Krovetz (ref: KStemFilter; see kstem())
    tokenizer: str = "simple"       # 'simple' (SQL-expressible split) or
    # 'standard' (StandardTokenizer-analog, see STANDARD_TOKEN_RE)

    def analyze(self, text: str) -> tuple[int, list[tuple[str, int]]]:
        """→ (doclen, [(term, 1-based position), ...]) with stopwords skipped.

        doclen counts ALL token positions including stopwords — load-bearing
        for BM25 length normalization (`Idx.java:84-90`).
        """
        if self.tokenizer == "standard":
            toks = tokenize_standard(text)
            if self.strip_possessive:
                # EnglishPossessiveFilter: strip a trailing 's (ASCII,
                # U+2019, or U+FF07 apostrophe — the filter's exact set;
                # U+02BC is NOT in it, probed); the token keeps its
                # position (one token either way)
                toks = [t[:-2] if t.endswith(("'s", "’s", "＇s"))
                        else t for t in toks]
        else:
            toks = tokenize(text)
        out: list[tuple[str, int]] = []
        for i, tok in enumerate(toks):
            if tok in STOPWORDS:
                continue
            if (self.tokenizer != "standard" and self.strip_possessive
                    and tok == "s" and i > 0):
                # the split-tokenizer renders "parser's" as [parser, s];
                # drop the stray "s" (its position still counts, like a
                # stopword)
                continue
            out.append((kstem(tok) if self.stem else tok, i + 1))
        return len(toks), out

    def query_terms(self, text: str) -> list[str]:
        """Tokenize a query string with the same chain (stopwords removed)."""
        _, pairs = self.analyze(text)
        return [t for t, _ in pairs]


CANONICAL = Analyzer()

# The reference's exact chain (`QryParser.java:45-47` enables lowercase +
# stop + KStem over `EnglishAnalyzerConfigurable.java:143-162`'s
# StandardTokenizer → StandardFilter(no-op at 4.3) → EnglishPossessiveFilter
# → LowerCaseFilter → StopFilter → KStemFilter). Byte-identity to Lucene is
# fixture-gated in tests/test_analyzer_parity.py.
REFERENCE_PARITY = Analyzer(strip_possessive=True, stem=True,
                            tokenizer="standard")


def analyze_udf(analyzer: Analyzer):
    """Arrow-batched pandas UDF: text → (doclen, [(term, pos), ...]) as
    `struct<doclen:long, terms:array<struct<term:string,pos:int>>>`.

    The production index path uses the pure-SQL tokenizer (JVM codegen,
    strictly faster — see SPARK_TOKENS_EXPR); this UDF is the analyzer
    escape hatch the `input_hint` calls for when the chain needs Python
    (KStem-style stemming, possessive stripping): vectorized per Arrow
    batch, never per-row at the DataFrame layer.
    """
    import pandas as pd
    from pyspark.sql import functions as F

    @F.pandas_udf("struct<doclen:long, terms:array<struct<term:string,pos:int>>>")
    def _analyze(texts):  # pd.Series -> pd.DataFrame (struct columns)
        doclens, terms = [], []
        for t in texts:
            dl, pairs = analyzer.analyze(t or "")
            doclens.append(dl)
            terms.append([{"term": w, "pos": p} for w, p in pairs])
        return pd.DataFrame({"doclen": doclens, "terms": terms})

    return _analyze


def build_postings_udf(docs, analyzer: Analyzer, text_col: str = "text",
                       field: str = "body"):
    """UDF-analyzer postings build — same output contract as
    `indexer.build.build_postings` (term, field, doc_id, tf, positions,
    doclen), for analyzer configurations the SQL tokenizer can't
    express; doclen is the analyzer's own token count. Same shuffle
    shape: repartition docs by doc_id first, then the per-doc
    aggregation never reshuffles the token stream."""
    from pyspark.sql import functions as F
    ana = analyze_udf(analyzer)
    num = docs.sparkSession.sparkContext.defaultParallelism * 2
    d = (docs.repartition(num, "doc_id")
         .withColumn("_a", ana(F.col(text_col))))
    toks = (d.select("doc_id", F.col("_a.doclen").alias("doclen"),
                     F.explode("_a.terms").alias("_t"))
            .select("doc_id", "doclen", F.col("_t.term").alias("term"),
                    F.col("_t.pos").alias("pos")))
    return (toks.groupBy("term", "doc_id")
            .agg(F.count("*").cast("int").alias("tf"),
                 F.sort_array(F.collect_list("pos")).alias("positions"),
                 F.first("doclen").alias("doclen"))
            .withColumn("field", F.lit(field))
            .select("term", "field", "doc_id", "tf", "positions", "doclen"))
