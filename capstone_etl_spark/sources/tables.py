"""Table sources (SURVEY.md §2.1 S1).

The reference scans one SQLite table with a hand-written projection
(`SELECT title, url, abstract, body_text, body_html FROM en ORDER BY
url`, reference main.go:130, connected at main.go:97-106); here the
same capability has three branches:

- parquet (default): columnar scan, Catalyst does projection/predicate
  pushdown. At cluster scale the same call reads a partitioned
  directory tree; nothing is local-specific.
- jdbc: `spark.read.format("jdbc")` with the projection pushed down
  INTO the database (the `query` option, or a subquery dbtable when
  range-partitioned parallel reads are requested) — the direct
  equivalent of the reference's SQL scan, pointable at its own
  `en_wikibooks.sqlite` given any JDBC driver jar
  (e.g. org.xerial:sqlite-jdbc). At scale, partition_column/bounds
  split the scan into num_partitions concurrent range queries.
- sqlite: a driver-jar-free local ingestion fallback using the Python
  stdlib sqlite3 module — batched reads through Arrow into a DataFrame.
  Convenience for jar-less environments and tests; the driver-side
  single-reader makes it ingestion-only, NOT a scale path (use jdbc
  on a cluster).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from capstone_etl_spark.session import env_int

# The driver-generated star schema + text/embedding/event tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The reference's document projection (main.go:130) — the 5 columns its
# SQL scan reads; everything else in the row is never touched.
DOCUMENT_COLUMNS = ("title", "url", "abstract", "body_text", "body_html")


def jdbc_options(
    url: str,
    table: str,
    columns: tuple[str, ...] | None = None,
    driver: str | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
) -> dict[str, str]:
    """Options for a pushdown JDBC scan, as a pure dict (testable
    without a driver jar). The projection is pushed INTO the database:
    unpartitioned reads use the `query` option (the database executes
    exactly `SELECT <cols> FROM <table>`); partitioned reads must use
    `dbtable` (Spark appends the range predicates), so the projection
    becomes a subquery — still evaluated database-side, never a
    SELECT * shipped to Spark."""
    cols = ", ".join(columns) if columns else "*"
    opts: dict[str, str] = {"url": url}
    if driver:
        opts["driver"] = driver
    if partition_column is not None:
        opts["dbtable"] = f"(SELECT {cols} FROM {table}) spark_src"
        opts["partitionColumn"] = partition_column
        opts["lowerBound"] = str(lower_bound)
        opts["upperBound"] = str(upper_bound)
        opts["numPartitions"] = str(num_partitions or 8)
    else:
        opts["query"] = f"SELECT {cols} FROM {table}"
    return opts


def load_table_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    columns: tuple[str, ...] | None = None,
    **kwargs,
) -> DataFrame:
    """S1 over JDBC: the reference's own source shape (SQL scan with a
    hand-written projection). Requires the matching driver jar on the
    Spark classpath; see jdbc_options for the pushdown/partitioning
    contract."""
    return (
        spark.read.format("jdbc")
        .options(**jdbc_options(url, table, columns=columns, **kwargs))
        .load()
    )


def load_table_sqlite(
    spark: SparkSession,
    db_path: str,
    table: str,
    columns: tuple[str, ...] | None = None,
    batch_rows: int = 50_000,
) -> DataFrame:
    """Driver-jar-free SQLite ingestion via the Python stdlib: batched
    cursor reads → one DataFrame. The projection still executes inside
    SQLite. Single-reader and driver-side by construction — an
    ingestion convenience for jar-less environments (this container has
    no sqlite-jdbc jar), not a distributed scan; on a cluster use
    load_table_jdbc. Types: SQLite TEXT/INTEGER/REAL → string/long/
    double by sampled affinity, NULL-safe."""
    import sqlite3

    cols = list(columns) if columns else None
    con = sqlite3.connect(db_path)
    try:
        cur = con.cursor()
        col_sql = ", ".join(f'"{c}"' for c in cols) if cols else "*"
        cur.execute(f'SELECT {col_sql} FROM "{table}"')
        out_cols = [d[0] for d in cur.description]
        rows: list[tuple] = []
        while True:
            batch = cur.fetchmany(batch_rows)
            if not batch:
                break
            rows.extend(batch)
    finally:
        con.close()

    def _spark_type(values) -> str:
        for v in values:
            if v is None:
                continue
            if isinstance(v, bool) or isinstance(v, int):
                return "long"
            if isinstance(v, float):
                return "double"
            if isinstance(v, (bytes, bytearray)):
                return "binary"
            return "string"
        return "string"

    fields = ", ".join(
        f"`{c}` {_spark_type(r[i] for r in rows)}" for i, c in enumerate(out_cols)
    )
    return spark.createDataFrame(rows, fields)


# Tables whose consumers run EXPANSION-HEAVY map work directly on the
# scan output (tokenize → n-gram explode → md5 per gram for documents;
# per-row quantizer/distance folds for embeddings): work per input byte
# is 100×+, so scan parallelism — not byte count — bounds the map side.
_FAN_OUT_TABLES = {"documents", "embeddings"}
# (applicationId, input files) -> scan partition count, so the fan-out
# guard plans each scan once per session, not once per load_table call
_SCAN_PARTS: dict = {}


def _fan_out_small_scan(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Round-robin repartition a scan whose FILE LAYOUT under-parallelizes
    the session (guide §2.5, input skew: "one huge unsplittable file ...
    repartition immediately after the read"). The driver's test tables
    are single small parquet files — one scan task — so every
    tokenize/n-gram/fold lineage otherwise runs serially on 1 of N
    cores. No-op whenever the scan already has >= target partitions,
    i.e. for ANY real multi-file corpus at cluster scale, so nothing
    here shuffles 100 TB. Filters/projections still push down: Catalyst
    moves them through Repartition into the parquet reader. Results are
    partitioning-independent across this repo by design (sort-first
    dense ids, key-based aggregations; tests pin it)."""
    target = env_int(
        "SPARK_GRAFT_FANOUT", min(int(spark.conf.get("spark.sql.shuffle.partitions")), 16)
    )
    if target <= 1:
        return df
    # memoized per (app, path): getNumPartitions plans the scan —
    # cheap once, not per load_table call (queries call this a lot)
    key = (spark.sparkContext.applicationId, path)
    n = _SCAN_PARTS.get(key)
    if n is None:
        n = df.rdd.getNumPartitions()
        _SCAN_PARTS[key] = n
    if n >= target:
        return df
    return df.repartition(target)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one table. Pushdown-friendly: callers select/filter
    on the returned frame and Catalyst prunes at the parquet reader.

    events.ts normalizes to session-zone TimestampType whatever the
    writer emitted, so downstream `ts.cast("long")` (epoch seconds)
    always resolves and matches DuckDB's epoch(ts):
    - TIMESTAMP(NANOS): Spark's vectorized reader rejects it — read as
      a nanos LONG (legacy conf, runtime-settable) and truncate to
      micros, matching DuckDB's own nanos→micros truncation.
    - timestamp[us] with isAdjustedToUTC=false: Spark 4 infers
      TIMESTAMP_NTZ (spark.sql.parquet.inferTimestampNTZ.enabled
      defaults true), and NTZ→BIGINT is not a legal cast — convert to
      TIMESTAMP, which interprets the wall-clock in the session zone
      (pinned UTC in session.py), exactly how DuckDB treats the same
      naive micros."""
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer div keeps exactness (double division drifts at 1e18)
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    if name in _FAN_OUT_TABLES:
        df = _fan_out_small_scan(spark, df, path)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so operators can be written in
    either DataFrame or SQL form against the same names."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
