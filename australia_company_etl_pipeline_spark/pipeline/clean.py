"""Cleaning operators (SURVEY §2.2 P1–P12, §7.2 M2).

DataFrame-in → DataFrame-out twins of the reference's ``clean_*_spark``
(``/root/reference/src/transform/clean_commoncrawl.py:165-205`` and
``clean_abr.py:228-282``) with every row-at-a-time Python UDF replaced by
the native expressions in ``..functions`` — no Python boundary. Each
pipeline computes its cleaned columns once per row (``compute_once``)
and only then filters on them: a filter on a derived column is
otherwise pushed below the projection and re-runs the column's whole
regex chain for every reference (``operators/staging.py``).

Dedup note: the reference's ``dropDuplicates([key])`` keeps an arbitrary
row (partition-order dependent). ``deterministic=True`` (default) keeps the
lowest-ordering row per key instead, so results are stable across runs and
cluster sizes — SURVEY §7.4.3 mandates explicit tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import functions as fx
from ..operators.staging import compute_once


def dedup_by_key(df: DataFrame, keys: list[str], order_by: list[str],
                 deterministic: bool = True) -> DataFrame:
    """A4 — keep-first dedup. Deterministic: first = min(order_by)."""
    if not deterministic:
        return df.dropDuplicates(keys)
    win = Window.partitionBy(*keys).orderBy(
        *[F.col(c).asc_nulls_last() for c in order_by])
    return (df.withColumn("__rn", F.row_number().over(win))
            .filter(F.col("__rn") == 1).drop("__rn"))


def clean_web_companies(df: DataFrame, deterministic: bool = True) -> DataFrame:
    """P1/P5/P4 + A4 — Common Crawl cleaning pipeline.

    Mirrors clean_commoncrawl_spark (clean_commoncrawl.py:165-205):
    clean name → normalize → extract domain → standardize industry →
    drop null/empty names → block key → dedup by normalized_name.
    """
    cleaned = compute_once(
        df
        .withColumn("company_name", fx.clean_company_name(F.col("company_name")))
        .withColumn("normalized_name", fx.normalize_company_name(F.col("company_name")))
        .withColumn("domain", fx.extract_domain(F.col("url")))
        .withColumn("industry", fx.clean_industry(F.col("industry"))))
    cleaned = (cleaned
               .filter(F.col("company_name").isNotNull())
               .filter(F.col("normalized_name") != "")
               # spark-twin block key: plain substr, no length guard
               # (clean_commoncrawl.py:197-200)
               .withColumn("block_key",
                           F.lower(F.col("normalized_name").substr(1, 4))))
    return dedup_by_key(cleaned, ["normalized_name"], ["url"],
                        deterministic)


def clean_abr_entities(df: DataFrame, deterministic: bool = True,
                       active_only: bool = False) -> DataFrame:
    """P2/P3/P5/P6 + A4 — ABR cleaning pipeline.

    Mirrors clean_abr_spark (clean_abr.py:228-282) plus the pandas twin's
    entity-type expansion and date coercion (clean_abr.py:77-99), which the
    reference's Spark path omits.
    """
    cols = df.columns
    cleaned = (df
               .withColumn("abn", fx.clean_abn(F.col("abn")))
               .withColumn("entity_name", fx.clean_entity_name(F.col("entity_name")))
               .withColumn("normalized_name", fx.normalize_company_name(F.col("entity_name")))
               .withColumn("state", fx.clean_state(F.col("state")))
               .withColumn("postcode", fx.clean_postcode(F.col("postcode"))))
    if "entity_type" in cols:
        cleaned = (cleaned
                   .withColumn("entity_type_code", F.col("entity_type"))
                   .withColumn("entity_type", fx.clean_entity_type(F.col("entity_type"))))
    if "entity_status" in cols:
        # spark-twin status standardization (clean_abr.py:259-264)
        low = F.lower(F.col("entity_status"))
        cleaned = cleaned.withColumn(
            "entity_status",
            F.when(low.contains("active"), "Active")
            .when(low.contains("cancel"), "Cancelled")
            .otherwise(F.col("entity_status")))
    if "start_date" in cols:
        cleaned = cleaned.withColumn(
            "start_date", fx.parse_date_multi(F.col("start_date")))
    # the checksum reads the ABN's digits a dozen times: computed here,
    # once per row, not re-run per reference inside the filter
    cleaned = compute_once(
        cleaned.withColumn("__abn_ok", fx.validate_abn(F.col("abn"))))
    if active_only and "entity_status" in cols:
        cleaned = cleaned.filter(F.col("entity_status") == "Active")
    cleaned = (cleaned
               .filter(F.col("__abn_ok"))
               .drop("__abn_ok")
               .filter(F.col("entity_name").isNotNull())
               .filter(F.col("normalized_name") != "")
               .withColumn("block_key",
                           F.lower(F.col("normalized_name").substr(1, 4))))
    return dedup_by_key(cleaned, ["abn"], ["entity_name"], deterministic)
