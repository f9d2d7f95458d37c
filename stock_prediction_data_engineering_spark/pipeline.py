"""The reference's end-to-end DAG, Spark-native.

Reference flow (dags/stock_data_airflow_local_aws_s3.py): read symbols
CSV (:98-100) → per-symbol yfinance fetch (:36-42, driven at :110-112)
→ derive Year (:48) → write one parquet per (company, year) (:51-63)
→ upload to S3 (:74-91), in manual batches of 100 (:105-109). The
processed symbols table itself is the output of an implied
preprocessing query (SURVEY.md §2.9).

Here the whole DAG is three declarative stages on one SparkSession —
no orchestrator, no temp-dir staging, no hand batching:

1. ``load_raw_screener``   — schema-explicit CSV scan + string cleaning
2. ``preprocess_symbols``  — probe ⨝ dim → filter → project → sort
   (the §2.9 query, producing the reference's processed-CSV shape)
3. ``ingest_bars``         — fetch stage → Hive-partitioned lake write

A different destination (s3a://…) or fetcher (real yfinance) is a
parameter, not a code change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.cleaning import clean_money, clean_percent
from .sources.api_source import fetch_bars, synthetic_fetch
from .sources.lake import read_lake, write_lake

RAW_SCREENER_SCHEMA = (
    "`Symbol` string, `Name` string, `Last Sale` string, `Net Change` double, "
    "`% Change` string, `Market Cap` double, `Country` string, "
    "`IPO Year` double, `Volume` long, `Sector` string, `Industry` string"
)


def load_raw_screener(spark: SparkSession, csv_path: str) -> DataFrame:
    """Schema-explicit CSV scan of the raw NASDAQ-screener shape, with
    the $-price and %-change columns cleaned to doubles and unusable
    symbols (null / non-ticker characters) dropped."""
    raw = spark.read.option("header", True).schema(RAW_SCREENER_SCHEMA).csv(csv_path)
    return (
        raw.withColumn("last_sale", clean_money(F.col("`Last Sale`")))
        .withColumn("pct_change", clean_percent(F.col("`% Change`")))
        .filter(F.col("Symbol").isNotNull() & F.col("Symbol").rlike("^[A-Z]+$"))
    )


def preprocess_symbols(raw: DataFrame, probe: DataFrame, full_history: int) -> DataFrame:
    """The implied §2.9 query: keep symbols with complete fetch history
    and a known sector; rename to the processed-CSV schema; sort."""
    return (
        raw.join(probe, "Symbol")
        .filter((F.col("history_cnt") == full_history) & F.col("Sector").isNotNull())
        .select(
            "Symbol",
            F.col("Name").alias("Company_Name"),
            "Sector",
            F.col("has_data").alias("Data_Exising"),  # [sic], reference artifact
            F.col("history_cnt").alias("History_Existing"),
            F.col("`IPO Year`").alias("IPO_Year"),
            "Country",
            "Industry",
        )
        .orderBy("Symbol")
    )


def ingest_bars(
    symbols: DataFrame,
    lake_path: str,
    start: str = "2000-01-01",
    end: str = "2024-10-01",
    fetch_fn=None,
) -> DataFrame:
    """Fetch stage → partitioned lake. Returns the bar DataFrame (with
    quarantine rows excluded from the lake but reported to the caller).
    """
    bars = fetch_bars(
        symbols.select(F.col("Symbol").alias("symbol")),
        start=start,
        end=end,
        fetch_fn=fetch_fn or synthetic_fetch,
    )
    good = bars.filter(F.col("fetch_error").isNull()).withColumn(
        "year", F.year("bar_date")
    )
    write_lake(good.drop("fetch_error"), lake_path)
    return bars


def run(
    spark: SparkSession,
    screener_csv: str,
    lake_path: str,
    start: str = "2000-01-01",
    end: str = "2024-10-01",
    fetch_fn=None,
) -> DataFrame:
    """Full replay: CSV → fetch → probe → processed symbols + lake.
    Returns the processed symbols DataFrame (the reference's golden
    artifact shape)."""
    raw = load_raw_screener(spark, screener_csv)
    ingest_bars(raw, lake_path, start, end, fetch_fn)
    # probe the WRITTEN lake rather than re-aggregating the fetch-stage
    # DataFrame: the latter would re-run fetch_fn for every symbol (the
    # lake write already executed it once), doubling upstream API calls
    # and risking lake/probe inconsistency with a non-idempotent fetcher
    lake = read_lake(spark, lake_path)
    probe = lake.groupBy(F.col("company").alias("Symbol")).agg(
        F.count("*").alias("history_cnt"), (F.count("*") > 0).alias("has_data")
    )
    full = probe.agg(F.max("history_cnt")).collect()[0][0]
    return preprocess_symbols(raw, probe, full_history=full)
