"""PySpark-native analytics engine.

A from-scratch, Spark-first rebuild of the capabilities demonstrated by
alexriley7/AWS-Glue-PySpark-Incrementality-and-Parallelism
(reference: /root/reference/glue_rds_to_redshift.py):

* incremental (bookmark/high-water-mark) scans     -> sources.incremental
* multi-way equi joins + grouped aggregate reports -> operators.reports
* concurrent report fan-out under FAIR scheduling  -> parallel
* parquet sources and sinks, CSV/JSON/ORC reads    -> sources.io

plus large-scale training-data-pipeline extensions (dedup, similarity
search, multimodal columns, text analysis) under ``operators/``.

Everything is expressed with the DataFrame API so Catalyst/Tungsten own
the physical plan; no RDDs, no driver-side row loops.
"""

__version__ = "0.1.0"
