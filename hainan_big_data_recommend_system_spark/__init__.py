"""PySpark-native analytics engine with the query / data-processing
capabilities of ``wuxiang666/hainan_big_data_recommend_system``.

The reference (at ``/root/reference/``) is a single-node pandas + gensim +
sklearn book recommender.  This package re-expresses its full operator
inventory (SURVEY.md §2) as idiomatic Spark: DataFrame/SQL plans optimized by
Catalyst, pyspark.ml for the vectorize/cluster stages, Structured Streaming
for the event-driven path — plus the large-scale training-data-pipeline
operators (dedup, similarity search, text analysis, multimodal plumbing) a
100 TB deployment needs.

Layout
------
- ``session``    : SparkSession factory tuned for local testing / cluster scale
- ``catalog``    : loaders for the canonical parquet tables
- ``functions/`` : scalar/array helpers (F1–F20 in SURVEY.md §2.8)
- ``operators/`` : relational + custom operators (weights, top-k, dedup, …)
- ``ml/``        : vectorize / cluster pipelines (M2§–M4§)
- ``qcatalog/``  : the oracle-checked query catalog ``__spark_entry__`` exports
- ``streaming/`` : Structured Streaming event path (T1–T6); the
  recommender itself (``reco_assembly``, serving state, per-batch step)
  lives in ``streaming.recommend`` and imports nothing from ``qcatalog``
- ``sources/``   : non-parquet sources & KV sinks (S5–S12)
"""

__version__ = "0.1.0"
