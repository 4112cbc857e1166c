"""xwikire_spark — a from-scratch PySpark-native knowledge-graph construction
engine with the query/data-processing capabilities of SasCezar/XWikiRE.

The reference (read-only at /root/reference) builds WikiReading / X-WikiRE
relation-extraction datasets with MongoDB + multiprocessing; this package
re-expresses every stage as declarative DataFrame plans over columnar
(Parquet) transcript tables:

- MongoDB point/range lookups      -> equi-joins (broadcast for dictionaries)
- per-document Python loops        -> vectorized pandas/Arrow UDFs
- chunked Pool(5).imap fan-out     -> partition-parallel Spark tasks
- per-chunk stats dicts            -> observe() metrics + manifest tables
- crash-and-redo                   -> per-partition lineage manifests + resume

Package layout:
    kernels/    pure-Python deterministic NLP kernels (no Spark imports)
    functions/  Spark column expressions + pandas-UDF wrappers of kernels
    pipeline/   the KG construction DAG (extract -> link -> canonicalize ->
                materialize) per BASELINE.json north_rule
    operators/  analytics & training-data ops (dedup, similarity, splits,
                vocab, text stats)
    sources/    readers/writers for the formats the reference consumes/emits
"""

__version__ = "0.1.0"
