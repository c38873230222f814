"""search_engines_spark — a from-scratch PySpark-native inverted-index + BM25 engine.

Re-expresses the query and data-processing capabilities of the reference
(Shuang0420/Search-Engines, a CMU 11-642-style Lucene/Java search engine) as
idiomatic Spark: DataFrame plans compiled from the structured query language
(#AND #OR #SUM #WSUM #WAND #NEAR/n #WINDOW/n #SYN), four retrieval models
(Unranked/Ranked Boolean, BM25, Indri), pseudo-relevance feedback, result
diversification (xQuAD/PM2), LeToR feature extraction — plus the index
*builder* the reference delegated to Lucene (posting lists with positions,
delta+varbyte compressed segments, a skew-safe range-partitioned build,
resumable manifests), and corpus-side dedup, ANN similarity search,
PageRank, token statistics (BPE, sketches, shard export) and streaming
ingest.

Nothing here is a port: the reference's document-at-a-time Java iterators
become joins/aggregations; its per-query loop becomes a Catalyst plan.
"""

__version__ = "0.1.0"
