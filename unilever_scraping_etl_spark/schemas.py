"""Schema registry + table loaders.

Explicit ``StructType`` declarations for every table the engine touches
(SURVEY.md §1.3: the reference declares its sink schema via a SQLAlchemy
model, scrap_tokopedia.py:80-91; upstream extraction is schema-on-read —
we make both explicit and checked).
"""

from __future__ import annotations

import copy
import os
import pathlib
import stat
import threading
from collections import OrderedDict
from urllib.parse import urlsplit

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def local_df(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Small driver-side table as a DataFrame via the Arrow/pandas path.

    ``createDataFrame(list, ...)`` produces a Python-RDD-backed scan that
    re-pays a Python worker round-trip per partition on EVERY job; the
    pandas route with Arrow yields a JVM-side ``LocalTableScan``
    (one-time Arrow transfer, ~35x faster per action on local[32]).
    Arrow conversion is OFF by default in a plain session, so it is
    force-enabled just for the conversion — the resulting LocalTableScan
    holds its rows eagerly, so restoring the conf afterwards is safe.
    ``schema`` is a DDL string like ``"id int, name string"``."""
    names = [c.strip().split()[0] for c in schema.split(",")]
    pdf = pd.DataFrame([list(r) for r in rows], columns=names, dtype=object)
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key, "false")
    spark.conf.set(key, "true")
    try:
        return spark.createDataFrame(pdf, schema)
    finally:
        spark.conf.set(key, prev)

# ---------------------------------------------------------------------------
# The reference's one persisted table: main.tr_raw_scrap_data
# (scrap_tokopedia.py:80-91; semantics table in FIXTURES.md §A1)
# ---------------------------------------------------------------------------
RAW_SCRAP_SCHEMA = T.StructType([
    T.StructField("id", T.LongType(), True),            # sink-generated
    T.StructField("name", T.StringType(), False),       # required (drop row if absent)
    T.StructField("detail", T.StringType(), True),
    T.StructField("price", T.LongType(), False),        # Rupiah integer
    T.StructField("originalprice", T.LongType(), True),
    T.StructField("discountpercentage", T.DoubleType(), True),  # fraction in [0,1]
    T.StructField("platform", T.StringType(), False),
    T.StructField("createdate", T.DateType(), False),
])

# Intermediate scrape-pipeline rows (SURVEY.md §3.2/3.3): one fetched page.
FETCHED_PAGE_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("status", T.IntegerType(), True),
    T.StructField("html", T.StringType(), True),
    T.StructField("fetcher", T.StringType(), True),     # which source produced it
])

# Extracted product struct (pre-validation; nullable everywhere so the
# quarantine split can decide, SURVEY.md §2.7 F6).
PRODUCT_STRUCT = T.StructType([
    T.StructField("name", T.StringType(), True),
    T.StructField("detail", T.StringType(), True),
    T.StructField("price", T.LongType(), True),
    T.StructField("originalprice", T.LongType(), True),
    T.StructField("discountpercentage", T.DoubleType(), True),
])

# ---------------------------------------------------------------------------
# Driver test tables (/root/testdata/sf*/; FIXTURES.md §B)
# ---------------------------------------------------------------------------
TEST_TABLES: dict[str, T.StructType] = {
    "region": T.StructType([
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ]),
    "nation": T.StructType([
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]),
    "customer": T.StructType([
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]),
    "supplier": T.StructType([
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("s_acctbal", T.DoubleType()),
    ]),
    "part": T.StructType([
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_name", T.StringType()),
        T.StructField("p_brand", T.StringType()),
        T.StructField("p_type", T.StringType()),
        T.StructField("p_size", T.IntegerType()),
        T.StructField("p_retailprice", T.DoubleType()),
    ]),
    "orders": T.StructType([
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampNTZType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]),
    "lineitem": T.StructType([
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
        T.StructField("l_suppkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
        T.StructField("l_tax", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_linestatus", T.StringType()),
        T.StructField("l_shipdate", T.TimestampNTZType()),
    ]),
    "events": T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]),
    "documents": T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]),
    "embeddings": T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]),
}


# Every conf Spark's parquet schema inference (footer read plus
# partition discovery) consults. Each is read with ``spark.conf.get``
# (~0.1 ms a call); ``getAll`` costs ~18 ms and would eat the saving.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)
_SCHEMA_MEMO_ENTRIES = 256
_schema_memo: OrderedDict[tuple, T.StructType] = OrderedDict()
_schema_memo_lock = threading.Lock()


def _file_signature(path: str) -> tuple | None:
    """``(mtime_ns, ctime_ns, size)`` of ``path`` and, for a directory,
    of every entry under it by relative name — hidden ones too, since
    ``_metadata``/``_common_metadata`` summaries feed inference. None if
    the path cannot be listed (a glob, a missing path, a race)."""
    try:
        st = os.stat(path)
        sig = [("", st.st_mtime_ns, st.st_ctime_ns, st.st_size)]
        if stat.S_ISDIR(st.st_mode):
            root = pathlib.Path(path)
            for entry in sorted(root.rglob("*")):
                est = entry.stat()
                sig.append((str(entry.relative_to(root)), est.st_mtime_ns,
                            est.st_ctime_ns, est.st_size))
    except OSError:
        return None
    return tuple(sig)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers each input's schema once.

    Parquet inference launches a Spark job even for one file (~50 ms
    against ~10 ms for a read with a given schema). The first read of a
    key infers and remembers ``df.schema``; each later read passes it to
    ``spark.read.schema(...)``, so no inference job runs. Spark still
    lists the files on every read, and the scan's pushdown and column
    pruning are the same as with inference.

    The memo key holds everything the inferred schema depends on: the
    absolute local path, its file signature (``_file_signature``: a
    rewrite or a new part file changes it) and the inference confs in
    ``_INFERENCE_CONFS``. Each entry is therefore a pure function of
    its key — no entry depends on which call ran last — and a hit
    returns exactly what inference would. A non-local URI, a relative
    path (the JVM resolves it against its own working directory), a
    glob, or a path that changed during inference is read with plain
    inference and not remembered. The memo is bounded to
    ``_SCHEMA_MEMO_ENTRIES`` entries, least recently used first out."""
    parts = urlsplit(path)
    local = parts.path if parts.scheme == "file" else path
    sig = (_file_signature(local)
           if parts.scheme in ("", "file") and os.path.isabs(local)
           and not any(c in local for c in "*?[{") else None)
    if sig is None:
        return spark.read.parquet(path)
    key = (local, sig, tuple(spark.conf.get(k) for k in _INFERENCE_CONFS))
    with _schema_memo_lock:
        schema = _schema_memo.get(key)
        if schema is not None:
            _schema_memo.move_to_end(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if _file_signature(local) == sig:
        with _schema_memo_lock:
            _schema_memo[key] = copy.deepcopy(df.schema)
            while len(_schema_memo) > _SCHEMA_MEMO_ENTRIES:
                _schema_memo.popitem(last=False)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table through ``read_parquet``: the schema is
    inferred from the file once per memo key (local path, file
    signature, inference confs; a non-local URI always infers), and the
    scan keeps Catalyst's full pushdown and pruning either way. The
    result's column names and types are ``TEST_TABLES[name]`` — tests
    pin that at every testdata scale — but the declared schemas are not
    forced onto the scan.

    ``events.ts`` has shipped in two physical encodings across testdata
    generations: TIMESTAMP(NANOS) (which Spark's parquet reader rejects
    unless read as raw nanos via legacy nanosAsLong, then floor-divided
    to µs — the same truncation DuckDB applies narrowing ns to its
    native µs) and plain µs with isAdjustedToUTC=false (which Spark 4
    infers as TIMESTAMP_NTZ — a type ANSI cast refuses to turn into
    epoch seconds). Normalize both to session-local TIMESTAMP (the
    session is pinned UTC) so every downstream ``ts.cast('long')`` is
    the same epoch-seconds DuckDB's ``epoch(ts)`` yields on the naive
    value. The other tables' naive timestamps (``o_orderdate``,
    ``l_shipdate``) stay TIMESTAMP_NTZ."""
    if name == "events":
        from pyspark.sql import functions as F
        # nanosAsLong only decides the inferred schema: the frame reads
        # fine after the conf is restored, so it must not outlive this
        # read and turn the session's other NANOS columns into bigint.
        key = "spark.sql.legacy.parquet.nanosAsLong"
        prior = spark.conf.get(key, None)
        spark.conf.set(key, "true")
        try:
            df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
        finally:
            if prior is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prior)
        if dict(df.dtypes).get("ts") == "bigint":
            # NANOS generation, read as raw nanos: truncate to µs.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif dict(df.dtypes).get("ts") == "timestamp_ntz":
            # µs-NTZ generation: reinterpret the naive value as UTC —
            # with the session pinned to UTC this matches DuckDB's
            # naive-timestamp arithmetic bit for bit, and downstream
            # ts.cast('long') (illegal on NTZ under ANSI) works.
            df = df.withColumn("ts", F.to_utc_timestamp(F.col("ts"), "UTC"))
        return df
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")

