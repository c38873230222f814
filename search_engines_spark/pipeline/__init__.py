"""Large-scale training-data pipeline operators over the `documents` /
`embeddings` tables: deduplication (exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine), similarity search (brute-force + LSH-bucketed
ANN), and text analysis (language-ID, quality, token counts,
fingerprints).

Operators are JVM-side DataFrame column expressions wherever the
computation is relational, so whole-stage codegen applies end-to-end.
The Python kernels are doc-local `mapInPandas` maps where the work is
inherently sequential per item: code-fingerprint winnowing
(`codestats.winnow_fingerprints`) and the unigram-LM / BPE encode
passes (`tokenizer`).
"""
