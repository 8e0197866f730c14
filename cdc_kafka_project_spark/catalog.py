"""Table loading for the driver-provided testdata.

One entry point — ``load_table(spark, sf_dir, name)`` — so every query
goes through the same scan setup:

* parquet scans (columnar, Catalyst pushdown/pruning apply);
* the ``events`` table's ``ts`` column is normalized to TIMESTAMP
  across every encoding the driver has shipped — TIMESTAMP(NANOS) read
  as long (ns->us JVM-side), naive timestamp[us] read as TIMESTAMP_NTZ
  (cast, value-preserving under the pinned UTC session tz), or plain
  TIMESTAMP — a single projection that stays inside whole-stage codegen
  and preserves min/max-based row-group pruning on the other columns;
* no caching here — callers decide; at 100 TB you never blanket-cache.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from cdc_kafka_project_spark.schemas import TESTDATA_TABLES
from cdc_kafka_project_spark.session import configure_session

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table as a DataFrame with canonical types."""
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TESTDATA_TABLES}")
    configure_session(spark)  # driver may hand us an unconfigured session
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read as raw ns-since-epoch; truncate to micros.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        # keep original column order
        df = df.select("event_id", "ts", "user_id", "event_type", "value", "props")
    # Naive timestamp[us] parquet (the driver's current encoding for
    # events.ts / o_orderdate / l_shipdate) reads as TIMESTAMP_NTZ in
    # Spark 4.x, which time functions like unix_micros reject. The
    # session tz is pinned UTC (session.py), so casting NTZ -> TIMESTAMP
    # is value-preserving and DuckDB-oracle parity holds. One projection,
    # inside whole-stage codegen; parquet pushdown on other columns is
    # unaffected.
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz_cols:
        df = df.withColumns(
            {c: F.col(c).cast("timestamp") for c in ntz_cols}
        )
    return df


def table_rows(sf_dir: str, name: str) -> int:
    """Exact row count from parquet FOOTER metadata — zero data scan.

    The catalog-statistics read every warehouse offers: sizing
    decisions (cluster counts, sample rates, partition targets) should
    come from table stats, not from a counting job over the corpus —
    at 100 TB a count(*) scan just to pick k is real I/O for a number
    the footers already hold. Supports a single file or a directory of
    part files."""
    import pyarrow.parquet as pq

    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TESTDATA_TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        # recurse: partitioned/nested layouts (key=.../part-*.parquet)
        # put files below the top level, and a non-recursive listdir
        # would silently return 0 — skewing every footer-fed sizing
        # decision (e.g. semdedup's k) (r11 ADVICE low)
        files = [
            os.path.join(root, f)
            for root, _dirs, fnames in os.walk(path)
            for f in fnames
            if f.endswith(".parquet")
        ]
        if not files:
            raise FileNotFoundError(
                f"no *.parquet files under directory {path!r}"
            )
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return pq.ParquetFile(path).metadata.num_rows


def index_dir(sf_dir: str, name: str) -> str:
    """Where the materialized index ``name`` over ``sf_dir``'s tables
    lives: ``<root>/<sf tag>/<name>``, the root read from the
    environment variable below and by default this checkout's
    ``spark-warehouse/indexes``. Local scratch here; on a cluster the
    root is a shared-store prefix."""
    base = os.environ.get(
        "SPARK_GRAFT_INDEX_DIR",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "spark-warehouse",
            "indexes",
        ),
    )
    tag = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(base, tag, name)


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    use = names or TESTDATA_TABLES
    return {n: load_table(spark, sf_dir, n) for n in use}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register temp views so queries can be written in pure SQL too."""
    for n, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(n)
