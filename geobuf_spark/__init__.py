"""geobuf_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch engine with the query and data-processing capabilities of
murphy214/geobuf (reference at /root/reference), re-expressed Spark-first:

- the delta-encoded varint protobuf feature format is a BinaryType column
  produced/consumed by JVM UDFs, with a pure-numpy reference codec as
  the parity oracle (``codec``);
- the split/combine tile repartition is one Spark shuffle (``operators.tiling``);
- the subfile index is partitioned-table layout + partition pruning;
- on top of those primitives: cell-indexed point-in-polygon joins, kNN via
  cell-ring expansion, dedup / similarity / text-analysis operators for
  large-scale training-data pipelines.
"""

__version__ = "0.1.0"
