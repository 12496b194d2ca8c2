"""Medallion pipeline stages — the reference's executed dataflow,
re-expressed (SURVEY §3.2, §7 phase 3).

Stage semantics (with reference citations):

- ``bronze_to_silver_observations`` — partitioned-parquet scan,
  snake_case typed projection, yyyyMMdd date parse, quality-flag
  filter, partition-column derivation
  (``glue-jobs/noaa_ghcn_bronze_to_silver.py:43-99``);
- ``parse_stations`` / ``parse_countries`` / ``parse_states`` /
  ``parse_inventory`` — the four fixed-width/regex text-dimension
  parsers (``glue-jobs/noaa_dimensions_bronze_to_silver.py:40-196``);
- ``silver_to_gold`` — dim extraction via DISTINCT + code→name
  mapping, calendar dim, fact with conditional unit normalization
  (``glue-jobs/noaa_ghcn_silver_to_gold.py:55-123``).

Deliberate fixes over the reference (SURVEY §4.3): no eager counts,
native partition columns instead of path regex, split-once array
parse, and partition-overwrite fact refresh instead of blind append.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from aws_lakehouse_spark.functions.scalar import (
    fixed_width_field,
    regex_replace_chain,
    split_fields,
)
from aws_lakehouse_spark.operators.filters import (
    filter_nonempty_key,
    filter_quality_null_flags,
)
from aws_lakehouse_spark.sources.readers import scan_parquet, scan_text

# gold element-code → name mapping (noaa_ghcn_silver_to_gold.py:58-66)
ELEMENT_NAMES: dict[str, str] = {
    "TMAX": "Max Temperature",
    "TMIN": "Min Temperature",
    "PRCP": "Precipitation",
    "SNOW": "Snowfall",
    "SNWD": "Snow Depth",
    "AWND": "Avg Wind Speed",
    "WT11": "High Damaging Winds",
}
# elements stored in tenths (normalized /10 in gold, :91-93)
TENTHS_ELEMENTS = ("TMAX", "TMIN")
# the date partition columns of Silver observations and the Gold fact
DATE_PARTITIONS = ("year", "month", "day")


def bronze_to_silver_observations(
    spark: SparkSession, bronze_path: str
) -> DataFrame:
    """Cleanse raw observations into the Silver schema.

    Columns follow the reference's silver DDL
    (``noaa_ghcn_bronze_to_silver.py:120-130``): station_id,
    observation_date, element, value, flags, obs time, + partition
    columns year/month/day. The ``YEAR=``/``ELEMENT=`` directories
    are read as native partition columns (not regexed from paths).
    """
    raw = scan_parquet(spark, bronze_path, base_path=bronze_path)
    projected = raw.select(
        F.col("ID").cast("string").alias("station_id"),
        F.to_date(F.col("DATE").cast("string"), "yyyyMMdd").alias(
            "observation_date"
        ),
        F.col("ELEMENT").cast("string").alias("element"),
        F.col("DATA_VALUE").cast("double").alias("value"),
        F.col("M_FLAG").cast("string").alias("measurement_flag"),
        F.col("Q_FLAG").cast("string").alias("quality_flag"),
        F.col("S_FLAG").cast("string").alias("source_flag"),
        F.col("OBS_TIME").cast("string").alias("observation_time"),
    )
    cleansed = filter_quality_null_flags(projected, "value", "quality_flag")
    d = F.col("observation_date")
    return cleansed.withColumns(
        {
            name: fn(d).cast("int")
            for name, fn in zip(
                DATE_PARTITIONS, (F.year, F.month, F.dayofmonth)
            )
        }
    )


def parse_stations(spark: SparkSession, path: str) -> DataFrame:
    """Fixed-width station file parse
    (``noaa_dimensions_bronze_to_silver.py:40-88``): ID, lat, lon,
    elevation, state, name (flags stripped), GSN/HCN-CRN/WMO flags.
    """
    lines = scan_text(spark, path)
    v = F.col("value")
    name_raw = fixed_width_field(v, 42, 200, trim=False)
    parsed = lines.select(
        fixed_width_field(v, 1, 11).alias("station_id"),
        fixed_width_field(v, 13, 8).cast("double").alias("latitude"),
        fixed_width_field(v, 22, 9).cast("double").alias("longitude"),
        fixed_width_field(v, 32, 6).cast("double").alias("elevation"),
        fixed_width_field(v, 39, 2).alias("state"),
        F.trim(
            regex_replace_chain(
                name_raw,
                [
                    # strip trailing fields end-inward: WMO id is
                    # last, then HCN/CRN, then GSN
                    (r"\s+\d{5}\s*$", ""),
                    (r"\s+(HCN|CRN)\s*$", ""),
                    (r"\s+GSN\s*$", ""),
                ],
            )
        ).alias("station_name"),
        v.rlike(r"\sGSN(\s|$)").alias("is_gsn"),
        v.rlike(r"\s(HCN|CRN)(\s|$)").alias("is_hcn_crn"),
        F.regexp_extract(v, r"(\d{5})\s*$", 1).alias("wmo_id"),
    )
    return filter_nonempty_key(parsed, "station_id")


def parse_countries(spark: SparkSession, path: str) -> DataFrame:
    """2-char country code + name, substring parse
    (``noaa_dimensions_bronze_to_silver.py:113-123``)."""
    lines = scan_text(spark, path)
    v = F.col("value")
    parsed = lines.select(
        fixed_width_field(v, 1, 2).alias("country_code"),
        fixed_width_field(v, 4, 200).alias("country_name"),
    )
    return filter_nonempty_key(parsed, "country_code")


def parse_states(spark: SparkSession, path: str) -> DataFrame:
    """State code + name, regex parse
    (``noaa_dimensions_bronze_to_silver.py:149-157``)."""
    lines = scan_text(spark, path)
    v = F.col("value")
    parsed = lines.select(
        F.regexp_extract(v, r"^(\S+)\s", 1).alias("state_code"),
        F.trim(F.regexp_extract(v, r"^\S+\s+(.*)$", 1)).alias("state_name"),
    )
    return filter_nonempty_key(parsed, "state_code")


def parse_inventory(spark: SparkSession, path: str) -> DataFrame:
    """Whitespace-split inventory parse with ordinal fields
    (``noaa_dimensions_bronze_to_silver.py:183-196``) — the split is
    computed once into an array (fixes SURVEY §4.3.3's 6× recompute).
    """
    lines = scan_text(spark, path)
    parsed = lines.select(
        *split_fields(
            F.trim(F.col("value")),
            [
                ("station_id", None),
                ("latitude", "double"),
                ("longitude", "double"),
                ("element", None),
                ("first_year", "int"),
                ("last_year", "int"),
            ],
        )
    )
    return filter_nonempty_key(parsed, "station_id")


def build_dim_element(silver: DataFrame) -> DataFrame:
    """DISTINCT elements + code→name mapping
    (``noaa_ghcn_silver_to_gold.py:56-67``)."""
    from aws_lakehouse_spark.functions.scalar import code_map

    return (
        silver.select("element")
        .distinct()
        .select(
            F.col("element").alias("element_code"),
            code_map(F.col("element"), ELEMENT_NAMES).alias("element_name"),
        )
    )


def build_dim_date(silver: DataFrame) -> DataFrame:
    """DISTINCT calendar dim (``noaa_ghcn_silver_to_gold.py:70-79``)."""
    from aws_lakehouse_spark.functions.datetime_fns import calendar_dim_parts

    d = F.col("observation_date")
    parts = calendar_dim_parts(d)
    return silver.select(
        d.alias("date_key"), *[c.alias(n) for n, c in parts.items()]
    ).distinct()


def build_fact(silver: DataFrame) -> DataFrame:
    """Gold fact with conditional tenths normalization
    (``noaa_ghcn_silver_to_gold.py:82-94``); keeps the
    ``DATE_PARTITIONS`` columns for the partition-overwrite write."""
    return silver.select(
        "station_id",
        F.col("observation_date").alias("date_key"),
        F.col("element").alias("element_code"),
        F.when(
            F.col("element").isin(*TENTHS_ELEMENTS), F.col("value") / 10.0
        )
        .otherwise(F.col("value"))
        .alias("value"),
        "measurement_flag",
        "source_flag",
        *DATE_PARTITIONS,
    )


def silver_to_gold(silver: DataFrame) -> dict[str, DataFrame]:
    """All gold outputs from one Silver scan (the reference reads
    dim tables it never uses — SURVEY §4.3.4 — we don't)."""
    return {
        "dim_element": build_dim_element(silver),
        "dim_date": build_dim_date(silver),
        "fact_climate": build_fact(silver),
    }
