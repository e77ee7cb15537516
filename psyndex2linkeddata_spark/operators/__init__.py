"""Distributed operators beyond the record-local emit layer:

- dedup: exact / MinHash-LSH / SimHash / n-gram-Jaccard / embedding near-dup
- similarity: brute-force + LSH-bucketed cosine top-k
- linking: entity linking (exact, affiliation containment) and the fuzzy
  tiers' key normalization and scorer
- components: connected-components URI canonicalization
- textstats: language-ID, quality scoring, token counts, fingerprints
- multimodal: binary-column decode/feature plumbing (Arrow-batched)

All hash-based operators use md5 (hex) as the hash family so results are
reproducible across engines (the DuckDB oracles in __spark_entry__.py
compute the identical hashes).
"""
