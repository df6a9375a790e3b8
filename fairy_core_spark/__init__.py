"""fairy_core_spark — a PySpark-native validation + spatial-join + tiling engine.

A from-scratch distributed engine with the query semantics of
``yuummmer/fairy-core`` (the reference at /root/reference, a single-process
pandas rules-validation engine), re-expressed Spark-first:

- Stage-1 *preflight validation*: declarative rulepacks (rules-as-data,
  reference ``src/fairy/rulepack/schema.py:23-29``) compiled to Spark Column
  expressions and executed as fused aggregate passes — never per-row Python.
- Stage-2 *spatial core* (north-rule ops, no reference impl): S2 cell
  encoding (H3-res-7-equivalent level-12 tiles), broadcast R-tree
  point-in-polygon joins, grid-partitioned kNN with cell-ring expansion,
  raster<->vector tiling — all vectorized numpy inside Arrow pandas_udfs.
- Deterministic reports/attestation: canonical JSON, dataset fingerprints
  (reference ``src/fairy/core/services/provenance.py:131-159``), per-partition
  lineage + metrics tables, checkpoint-resume.

Designed for 1000-executor clusters over 100 TB Iceberg tables; tested on
local[32] parquet directories through a swappable table layer.
"""

from fairy_core_spark import _zipimport

# Python workers import this package to unpickle every engine function; from
# then on their per-task import-cache reset skips unchanged zip archives
_zipimport.install()

__version__ = "0.1.0"
