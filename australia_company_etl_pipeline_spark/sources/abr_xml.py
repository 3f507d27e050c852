"""ABR bulk-extract XML shredder (SURVEY.md §2.1 S3/S4).

Re-expression of the reference's ``ET.iterparse`` streaming parser
(``/root/reference/src/ingest/parse_abr.py:43-211``) as native Spark:

- record boundaries split with native regex (one ``<ABR…>…</ABR>``
  element per row), distributed per input file;
- field shredding via one ``from_xml`` per record (an explicit nested
  schema, parsed once in its own projection) plus
  the reference's multi-path coalesce cascade (MainEntity vs LegalEntity,
  NonIndividualName vs IndividualName given+family concat);
- ABN status/start-date from the ABN element's attributes, multi-format
  date parse (F18) applied to the status date.

No Python row loop, no ``elem.clear()`` memory choreography — Spark's
per-task batching owns memory.

**Delimiter assumption**: the record frame is the literal ``</ABR>``
close tag. An attribute or text value containing ``</ABR>`` would split
that record: the tail fragment has no ``<ABR`` anchor and is dropped by
the filters, while the head half fails ``from_xml`` (unbalanced tags) and
shreds to NULL fields. XML escaping makes a literal ``</ABR>`` inside
text illegal in well-formed documents, so collisions imply corrupt
input — run ``abr_scan_stats`` on new bulk extracts: ``n_unparsed`` > 0
(frames that refuse both the anchor filter and the ABN shred) is the
signal, as a metric instead of silent loss.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.dates import parse_date_multi
from ..operators.staging import compute_once

# Nested schema for one <ABR> record. Attribute fields use from_xml's
# default "_" prefix; element text beside attributes lands in _VALUE.
_NAME = T.StructType([
    T.StructField("NonIndividualNameText", T.StringType()),
])
_INDIVIDUAL = T.StructType([
    T.StructField("GivenName", T.ArrayType(T.StringType())),
    T.StructField("FamilyName", T.StringType()),
])
_ADDRESS = T.StructType([
    T.StructField("AddressDetails", T.StructType([
        T.StructField("State", T.StringType()),
        T.StructField("Postcode", T.StringType()),
    ])),
])
ABR_RECORD_SCHEMA = T.StructType([
    T.StructField("ABN", T.StructType([
        T.StructField("_VALUE", T.StringType()),
        T.StructField("_status", T.StringType()),
        T.StructField("_ABNStatusFromDate", T.StringType()),
    ])),
    T.StructField("EntityType", T.StructType([
        T.StructField("EntityTypeInd", T.StringType()),
        T.StructField("EntityTypeText", T.StringType()),
    ])),
    T.StructField("MainEntity", T.StructType([
        T.StructField("NonIndividualName", _NAME),
        T.StructField("BusinessAddress", _ADDRESS),
    ])),
    T.StructField("LegalEntity", T.StructType([
        T.StructField("NonIndividualName", _NAME),
        T.StructField("IndividualName", _INDIVIDUAL),
        T.StructField("BusinessAddress", _ADDRESS),
    ])),
    T.StructField("EntityName", T.StringType()),
])

_RECORD_RE = r"(?s)<ABR[\s>].*?</ABR>"


def split_abr_records(df: DataFrame, text_col: str = "value") -> DataFrame:
    """One row per raw ``<ABR>…</ABR>`` element string."""
    return (df.select(F.explode(
        F.regexp_extract_all(F.col(text_col), F.lit(_RECORD_RE), 0))
        .alias("xml")))


def _entity_name(r: Column) -> Column:
    """Name cascade, parse_abr.py:136-175: MainEntity non-individual →
    LegalEntity non-individual → individual given(s)+family → fallbacks."""
    individual = F.concat_ws(
        " ",
        F.array_join(F.coalesce(r["LegalEntity"]["IndividualName"]["GivenName"],
                                F.array()), " "),
        r["LegalEntity"]["IndividualName"]["FamilyName"])
    return F.coalesce(
        r["MainEntity"]["NonIndividualName"]["NonIndividualNameText"],
        r["LegalEntity"]["NonIndividualName"]["NonIndividualNameText"],
        F.when(F.trim(individual) != "", F.trim(individual)),
        r["EntityName"])


def _address_field(r: Column, field: str) -> Column:
    """Address cascade, parse_abr.py:177-200: MainEntity → LegalEntity."""
    return F.coalesce(
        r["MainEntity"]["BusinessAddress"]["AddressDetails"][field],
        r["LegalEntity"]["BusinessAddress"]["AddressDetails"][field])


def shred_abr_xml(df: DataFrame, xml_col: str = "xml") -> DataFrame:
    """S4 — shred ABR record XML strings into the flat entity contract
    (abn, entity_name, entity_type, entity_type_code, entity_status,
    state, postcode, start_date).

    ``from_xml`` runs once per record, in its own projection, and the
    fields are computed once from the parsed struct (``compute_once``)
    before the ABN/name filter reads them."""
    parsed = df.select(
        F.from_xml(F.col(xml_col), ABR_RECORD_SCHEMA).alias("__r"))
    r = F.col("__r")
    abn_digits = F.regexp_replace(F.coalesce(r["ABN"]["_VALUE"], F.lit("")),
                                  r"\D", "")
    out = compute_once(parsed.select(
        F.when(F.length(abn_digits) == 11, abn_digits).alias("abn"),
        _entity_name(r).alias("entity_name"),
        F.coalesce(r["EntityType"]["EntityTypeText"],
                   r["EntityType"]["EntityTypeInd"]).alias("entity_type"),
        r["EntityType"]["EntityTypeInd"].alias("entity_type_code"),
        r["ABN"]["_status"].alias("entity_status"),
        _address_field(r, "State").alias("state"),
        _address_field(r, "Postcode").alias("postcode"),
        parse_date_multi(r["ABN"]["_ABNStatusFromDate"]).alias("start_date")))
    # Reference drops records without ABN or name (parse_abr.py:97-110).
    return out.filter(F.col("abn").isNotNull()
                      & F.col("entity_name").isNotNull())


def abr_scan_stats(spark: SparkSession, path: str) -> DataFrame:
    """Shred-loss metrics for an ABR scan — one row, one pass:
    (n_frames, n_records, n_shredded, n_unparsed).

    ``n_frames`` = ``</ABR>``-framed rows (includes the header/footer
    wrapper); ``n_records`` = frames with an ``<ABR`` record anchor;
    ``n_shredded`` = records that yield a valid 11-digit ABN + name;
    ``n_unparsed`` = records whose XML fails to shred (NULL abn AND NULL
    name out of ``from_xml``) — nonzero means malformed records or a
    delimiter collision (see module docstring), surfaced as a metric.
    """
    raw = spark.read.option("lineSep", "</ABR>").text(path)
    xml = F.regexp_extract("value", r"(?s)<ABR[\s>].*", 0)
    r = F.from_xml(F.concat(xml, F.lit("</ABR>")), ABR_RECORD_SCHEMA)
    abn_digits = F.regexp_replace(F.coalesce(r["ABN"]["_VALUE"], F.lit("")),
                                  r"\D", "")
    good = (F.length(abn_digits) == 11) & _entity_name(r).isNotNull()
    empty_shred = (r["ABN"]["_VALUE"].isNull()
                   & _entity_name(r).isNull())
    is_rec = xml != ""
    return raw.agg(
        F.count(F.lit(1)).cast("long").alias("n_frames"),
        F.sum(F.when(is_rec, 1).otherwise(0))
        .cast("long").alias("n_records"),
        F.sum(F.when(is_rec & good, 1).otherwise(0))
        .cast("long").alias("n_shredded"),
        F.sum(F.when(is_rec & empty_shred, 1).otherwise(0))
        .cast("long").alias("n_unparsed"))


def read_abr_xml(spark: SparkSession, path: str) -> DataFrame:
    """S3 — distributed ABR XML scan, record-framed.

    The read is framed on ``</ABR>`` close tags (``lineSep``), so one task
    row is one record (KBs) — a multi-GB bulk-extract file never becomes a
    single task-resident string. Uncompressed files split across tasks at
    ``maxPartitionBytes`` granularity (Hadoop's delimiter-aware reader
    resolves records straddling a split); gzip stays one-task-per-file but
    streams record-by-record — the memory profile the reference gets from
    ``ET.iterparse`` + ``elem.clear()`` (parse_abr.py:43-91). Inter-record
    wrapper XML (header/footer/whitespace) is stripped by the ``<ABR``
    anchor; rows with no record start (e.g. the trailing footer) drop out.
    """
    raw = spark.read.option("lineSep", "</ABR>").text(path)
    # the anchor regex runs once per frame, not again in the filter
    recs = (compute_once(
                raw.select(F.regexp_extract("value", r"(?s)<ABR[\s>].*", 0)
                           .alias("xml")))
            .filter(F.col("xml") != "")
            .select(F.concat(F.col("xml"), F.lit("</ABR>")).alias("xml")))
    return shred_abr_xml(recs)
