"""Corpus-side operators that sit beside retrieval over the `documents` /
`embeddings` tables: deduplication (exact, MinHash+LSH, SimHash, n-gram
Jaccard, span-level substring, embedding-cosine, SemDedup, near-dup
clusters), similarity search (brute-force, LSH, IVF and IVF-PQ ANN, with
their journaled index lifecycles), PageRank for the LeToR
`pageRankFile` feature (`graph`), and token statistics: BPE and
unigram-LM tokenizer training (`tokenizer`), count-min / HyperLogLog /
Bloom / log2-histogram sketches (`sketches`) and deterministic shard
export with sequence packing (`export`).

Operators are JVM-side DataFrame column expressions wherever the
computation is relational, so whole-stage codegen applies end-to-end.
The one Python kernel is the doc-local `mapInPandas` of the unigram-LM
passes in `tokenizer`.
"""
