"""Coerce-or-drop CSV source (reference S1/S2).

Reproduces the reference loader's row-acceptance rules
(buzzdb_lab1.cpp:126-316) as declarative DataFrame predicates:

1. header line skipped (buzzdb_lab1.cpp:181-184);
2. blank lines skipped (:186-187);
3. naive split on ``,`` — the format has no quoting/escaping
   (:156-165), so we read with quote handling disabled;
4. wrong-arity rows dropped (exactly 3/4/6 fields, :191-192,
   :236-237, :285-286) — expressed via DROPMALFORMED over an
   all-string schema of the exact arity;
5. every field trimmed of the 6-char whitespace class
   ``\\t\\n\\v\\f\\r `` on both ends (:131-141);
6. integer columns strict-parsed; a failed parse drops the whole row
   (to_int, :144-154, applied :198-200, :243-249, :292-298) —
   expressed as ``try_cast('int') IS NOT NULL``.

Parallelism note (S2): the reference's "parallel loader"
(buzzdb_lab1.cpp:329-593) is one thread per file. Spark's file source
is already partition-parallel per split — finer-grained than per-file
— and independent tables load as independent jobs, so S1 and S2 are
the same code here; differential cardinality equality (reference
Test 2, :1199-1206) holds by construction.

Duplicate keys: the reference's serial loader keeps the LAST
occurrence of a duplicate id (map::operator[], :202,254,304) while
its parallel loader keeps the FIRST (map::insert, :568,574,582). We
pick the deterministic, order-independent choice that scales: keep
the first occurrence in file order (min row position per key) and
document it — at 100 TB "last writer in file order" would impose a
global serial order on the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..schemas import INT_COLUMNS, SOCIAL_SCHEMAS

# The reference trims this exact 6-character class (buzzdb_lab1.cpp:131-141).
_WS_CLASS = r"[\t\n\x0b\f\r ]"


def _trim(col: Column) -> Column:
    return F.regexp_replace(
        F.regexp_replace(col, f"^{_WS_CLASS}+", ""), f"{_WS_CLASS}+$", ""
    )


def read_csv_strict(
    spark: SparkSession,
    path: str,
    schema: StructType,
    int_columns: list[str],
    dedupe_keys: list[str] | None = None,
) -> DataFrame:
    """Read a header CSV with the reference's coerce-or-drop semantics.

    ``schema`` gives the target column names/types; parsing happens on
    an all-string schema so we control trim/cast/drop explicitly.
    """
    raw_schema = StructType(
        [StructField(f.name, StringType()) for f in schema.fields]
    )
    df = (
        spark.read.schema(raw_schema)
        .option("header", True)
        .option("mode", "DROPMALFORMED")  # wrong-arity rows -> dropped
        .option("quote", "")  # reference format has no quoting
        .option("enforceSchema", True)
        .csv(path)
    )
    # Trim every field (rule 5). Empty CSV fields are empty *strings*
    # in the reference's split (buzzdb_lab1.cpp:156-165), not nulls —
    # coalesce before trim; genuinely blank lines still drop via the
    # int-column predicate below.
    df = df.select(
        [_trim(F.coalesce(F.col(c), F.lit(""))).alias(c) for c in df.columns]
    )
    # Strict int parse; failures null out and the row drops (rule 6).
    # Blank lines (rule 2) parse as all-null and are dropped by the
    # same predicate — every table's key column is an int column.
    # try_cast alone is LOOSER than the reference's full-string parse
    # ('5.7' casts to 5, '1e3' to 1000) — gate on the exact integer
    # grammar first; overflow still nulls out via try_cast (the
    # reference's out-of-range stoi failure).
    for c in int_columns:
        df = df.withColumn(
            c,
            F.when(
                F.col(c).rlike(r"^[+-]?[0-9]+$"), F.col(c).try_cast("int")
            ).otherwise(F.lit(None)),
        )
    for c in int_columns:
        df = df.filter(F.col(c).isNotNull())
    # Cast to the declared schema types.
    df = df.select(
        [F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
    )
    if dedupe_keys:
        # Keep first occurrence per key in file order. Order key is
        # (file path, position-within-split): monotonically_increasing_id
        # alone is only deterministic per partitioning, so the file
        # path leads — rows of the same key in the SAME file resolve by
        # within-split position (splits scan forward, so position order
        # is the file's line order; across files, path order wins).
        df = (
            df.withColumn("__file", F.col("_metadata.file_path"))
            .withColumn("__pos", F.monotonically_increasing_id())
        )
        w = Window.partitionBy(*dedupe_keys).orderBy("__file", "__pos")
        df = (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__file", "__pos", "__rn")
        )
    return df


def load_social_tables(spark: SparkSession, data_dir: str) -> dict[str, DataFrame]:
    """Load users/posts/engagements CSVs, first-wins deduplicated on
    ``id``, with load-time RI filtering.

    RI order matters and is preserved from the reference: posts are
    filtered against users first (buzzdb_lab1.cpp:251-252), then
    engagements against the *surviving* posts and users (:258-264,
    :299-302). All are left-semi joins against the dims' key columns —
    the Spark-native form of the reference's build-small-probe-large
    unordered_set membership tests (:207,259,524,542). Join strategy
    is left to AQE/threshold ('auto'): it broadcasts the key sets at
    lab scale and degrades to shuffled semi-joins when the build side
    outgrows memory (users/posts both scale with the data).
    """
    from .integrity import semi_filter

    dfs: dict[str, DataFrame] = {}
    for name, schema in SOCIAL_SCHEMAS.items():
        path = os.path.join(data_dir, f"{name}.csv")
        dfs[name] = read_csv_strict(
            spark, path, schema, INT_COLUMNS[name], dedupe_keys=["id"]
        )
    users, posts, eng = dfs["users"], dfs["posts"], dfs["engagements"]
    posts = semi_filter(posts, users, "username", "username")
    eng = semi_filter(eng, posts, "postId", "id")
    eng = semi_filter(eng, users, "username", "username")
    # joins hoist the join key to column 0 — restore the schema's
    # positional order (the CSV format is positional; reloading an
    # export depends on it)
    dfs["posts"] = posts.select([f.name for f in SOCIAL_SCHEMAS["posts"].fields])
    dfs["engagements"] = eng.select(
        [f.name for f in SOCIAL_SCHEMAS["engagements"].fields]
    )
    return dfs
