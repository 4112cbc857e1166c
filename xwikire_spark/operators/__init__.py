"""Analytics & training-data operators.

Two families:
- re-expressions of the reference's analytics/split scripts (SURVEY §2.4-2.6):
  vocab building, per-class stats, fold packing, balanced sampling, set ops;
- large-scale training-data ops the reference never needed but a 100 TB
  corpus pipeline does: dedup (exact / MinHash-LSH / n-gram Jaccard),
  similarity search (brute-force + LSH-bucketed ANN), text quality scoring,
  language id, document fingerprinting.
"""
