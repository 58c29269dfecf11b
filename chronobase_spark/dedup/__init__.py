"""Deduplication operators for large-scale training-data pipelines
(SURVEY.md §2.4 extension surface).

exact      — hash-groupBy exact/normalized duplicate detection
ngram      — n-gram shingle Jaccard with blocking (SQL-oracle-checkable)
minhash    — MinHash + LSH banding (the sub-quadratic scale path)
simhash    — 64-bit SimHash near-dup signatures (md5 token bits)
embedding  — cosine near-dup over embedding vectors (+ LSH bucketing)
"""

from chronobase_spark.dedup import embedding, exact, minhash, ngram, simhash  # noqa: F401
