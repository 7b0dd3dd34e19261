"""mysql_binlog_spark — a PySpark-native CDC / incremental-ingest engine.

A from-scratch re-expression of the capabilities of ``userqq/mysql-binlog``
(a single-process PHP binlog replication client; see /root/reference) as a
partition-parallel Spark dataflow:

    binlog chunks ──decode (Arrow-vectorized; include/exclude and
        start-LSN applied in the kernel)──► change rows
        ──bucket exchange──► per-key LSN winners, reduced in each bucket
        ──► bucketed MERGE into a lake table
        (schema evolution, exactly-once epoch commits, lineage metrics)

plus the training-data pipeline operators a 100 TB transcript lake needs
(dedup families, similarity search, text analysis, multimodal plumbing).

Nothing here is a port: the reference's event-loop iterator semantics
(EventsIterator.php) are re-derived as declarative DataFrame plans; the only
Python-executed hot path is the vectorized binlog frame decoder.
"""

__version__ = "0.1.0"
