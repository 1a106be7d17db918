"""PySpark-native CDC / incremental-ingest engine.

A from-scratch re-expression of the capabilities of
cgs-earth/OregonWaterDataPortal-ETL (reference at /root/reference, read-only)
as an idiomatic Spark engine:

- change-event tail (binlog/WAL-style) -> last-writer-wins dedup by
  window ranking over a monotonic LSN -> salted, key-partitioned MERGE
  into a snapshot-versioned lake table (Iceberg semantics; plain-parquet
  implementation because no Iceberg jars ship in this sandbox),
- checkpointed offset log + idempotent commit manifests (exactly-once),
- additive schema evolution resolved at merge time,
- the reference's full operator surface (scans, filters, joins, aggs,
  ranking windows, set ops, scalar functions) re-expressed Spark-first,
- large-scale training-data operators (dedup, similarity search, text
  analysis); binary attachments are listed and fetched as raw bytes
  (sources.read_binary_attachments), not decoded.

Reference semantics mapped per SURVEY.md section 2; e.g. the LWW dedup
mirrors userCode/awqms/dag.py:155-187 and the watermark resume mirrors
userCode/helper_classes.py:131-162 + userCode/wrd/dag.py:189-197.
"""

__version__ = "0.1.0"
