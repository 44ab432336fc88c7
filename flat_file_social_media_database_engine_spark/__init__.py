"""PySpark-native analytics engine with the query & data-processing
capabilities of ``PakHsi0317/Flat-File-Social-Media-Database-Engine``.

The reference (``/root/reference/buzzdb_lab1.cpp``) is a single-node
C++ flat-file social-media store: three CSV tables (users / posts /
engagements) held in ordered maps, two hand-written read queries, and
three whole-file-rewrite mutations. This package re-expresses that
capability surface — plus the large-scale training-data-pipeline
extensions (dedup, similarity search, text analysis, multimodal
columns, streaming) — as idiomatic PySpark: declarative DataFrame /
Spark SQL plans optimized by Catalyst, immutable snapshots instead of
locks, and partition-parallel scans instead of per-file threads.

Layout
------
- ``session``    : SparkSession factory tuned for scale (AQE, Arrow).
- ``schemas``    : explicit StructTypes (reference tables + fixtures).
- ``sources``    : coerce-or-drop CSV reader (S1/S2), parquet catalog,
                   referential-integrity semi/anti joins (S3, J5).
- ``operators``  : the reference's read queries (Q1/Q2), batch
                   mutation dataflows (M1-M3), rank-select and
                   top-k operators.
- ``plans``      : versioned snapshot store (atomic multi-table commit).
- ``functions``  : multimodal column plumbing (decode / features /
                   resize / frame sampling); text/dedup/similarity
                   column logic lives with its workloads.
- ``streaming``  : Structured Streaming over the events table
                   (windows, sessions, stream dedup, stateful clamp).
- ``workloads``  : queries()/oracle_sql() instantiations on the
                   TPC-H-ish driver fixtures.
"""

__version__ = "0.1.0"
