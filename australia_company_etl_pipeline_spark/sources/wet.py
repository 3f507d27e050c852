"""Common Crawl WET archive scan (SURVEY.md §2.1 S1/S2).

Re-expression of the reference's warcio/manual WET parsers
(``/root/reference/src/ingest/parse_commoncrawl.py:79-185``) as a
distributed Spark read + native record shredding:

- **record-framed read**: ``spark.read.option("lineSep",
  "\\r\\n\\r\\nWARC/")`` frames the scan at WARC record boundaries, so one
  task row is one *record* (KBs), never one whole file (GBs). Uncompressed
  WET files split across tasks at ``maxPartitionBytes`` granularity
  (Hadoop's delimiter-aware line reader resolves records straddling a
  split); gzip files stay one-task-per-file (codec limit) but stream
  record-by-record instead of materializing a file-sized string —
  the memory profile the reference gets from incremental warcio parsing
  (parse_commoncrawl.py:79-122);
- record headers and bodies extracted with native ``split`` /
  ``regexp_extract`` Catalyst expressions, each evaluated once per
  record (``operators.staging.compute_once``);
- no Python in the record path, no driver-side funneling.

The reference yields only ``conversion`` records with a
``WARC-Target-URI`` header; ours keeps the same contract.

**Delimiter assumption**: the record frame is the literal byte sequence
``\\r\\n\\r\\nWARC/`` — per the WARC spec a record ends with CRLF CRLF and
the next starts with a version line, so well-formed archives frame
exactly. A record whose *body text* contains that same sequence would be
silently split: the fragment after the collision has no WARC headers and
drops out of the anchor filters (the record's head half keeps its URI but
loses the tail of its body). WET conversion records are extracted text,
where a embedded ``\\r\\n\\r\\nWARC/`` is vanishingly rare but not
impossible — run ``wet_scan_stats`` on a new crawl snapshot: a nonzero
``n_untyped`` count is the collision/corruption signal (frames with no
``WARC-Type`` header at all), surfacing the loss as a metric instead of
silence.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.staging import compute_once

# Every WARC record starts with a version line (WARC/1.0, WARC/1.1 …).
_RECORD_SPLIT = r"(?=WARC/\d+\.\d+)"
# Per the WARC spec a record ends with CRLF CRLF, so this frame lands
# exactly on record boundaries (the version digits survive in-row).
_RECORD_FRAME = "\r\n\r\nWARC/"
# Version line at the start of a framed/split record. After a lineSep
# frame the consumed "WARC/" prefix is gone, so it is optional here.
_VERSION_LINE = r"^(WARC/)?\d+\.\d+\r?\n"
_HEADER_FIELD = r"{name}:\s*([^\r\n]+)"
# Body = everything after the first blank line (header/body separator).
_BODY = r"(?s)\r?\n\r?\n(.*)"
_HEAD_BLOCK = r"(?s)^(.*?)\r?\n\r?\n"


def header(record: Column, name: str) -> Column:
    """Extract one WARC header value (empty → NULL)."""
    v = F.regexp_extract(record, _HEADER_FIELD.format(name=name), 1)
    return F.when(F.trim(v) != "", F.trim(v))


def shred_wet_records(records: DataFrame, rec_col: str = "rec",
                      record_type: str = "conversion") -> DataFrame:
    """Shred one-record-per-row strings into (url, text) records.

    Header fields are matched only inside the header block (before the
    first blank line), so body text that happens to contain
    ``WARC-Type:`` can't forge a header. Rows that aren't WARC records
    (no headers → NULL type/URI) drop out of the filters naturally.
    The filters, and any a caller adds (``read_wet``'s ``.au`` gate),
    read the shredded columns (``compute_once``) instead of re-running
    the header and body regexes.
    """
    rec = F.regexp_replace(F.col(rec_col), _VERSION_LINE, "")
    head = F.regexp_extract(rec, _HEAD_BLOCK, 1)
    head = F.when(head != "", head).otherwise(rec)
    # Spark's trim() strips only spaces; records end in \r\n\r\n → regex strip.
    body = F.regexp_replace(
        F.regexp_replace(F.regexp_extract(rec, _BODY, 1),
                         r"^\s+", ""), r"\s+$", "")
    parsed = compute_once(records.select(
        header(head, "WARC-Type").alias("warc_type"),
        header(head, "WARC-Target-URI").alias("url"),
        body.alias("text")))
    return (parsed
            .filter(F.col("warc_type") == record_type)
            .filter(F.col("url").isNotNull())
            .select("url", "text"))


def parse_wet_records(df: DataFrame, text_col: str = "value",
                      record_type: str = "conversion") -> DataFrame:
    """Shred whole-file WET text into (url, text) conversion records.

    Mirrors parse_commoncrawl.py:79-122: keep ``WARC-Type: conversion``
    records that carry a ``WARC-Target-URI``; body is the content after
    the header block, trimmed. For disk reads prefer ``read_wet`` —
    this path is for already-materialized file strings.
    """
    records = (df
               .select(F.explode(F.split(F.col(text_col),
                                         _RECORD_SPLIT)).alias("rec"))
               .filter(F.col("rec").startswith("WARC/")))
    return shred_wet_records(records, "rec", record_type)


def wet_scan_stats(spark: SparkSession, path: str,
                   record_type: str = "conversion") -> DataFrame:
    """Shred-loss metrics for a WET scan — one row, one pass:
    (n_frames, n_typed, n_kept, n_untyped).

    ``n_untyped`` counts frames carrying no ``WARC-Type`` header at all —
    the signature of a delimiter collision (a record body containing the
    frame delimiter, see module docstring) or corrupt input. ``n_typed −
    n_kept`` is benign skip volume (non-``record_type`` records, missing
    URIs). Run this beside ``read_wet`` on new snapshots so silent loss
    becomes an observable metric (ops twin of the reference's per-file
    record counters, parse_commoncrawl.py:111-119).
    """
    raw = spark.read.option("lineSep", _RECORD_FRAME).text(path)
    rec = F.regexp_replace(F.col("value"), _VERSION_LINE, "")
    head = F.regexp_extract(rec, _HEAD_BLOCK, 1)
    head = F.when(head != "", head).otherwise(rec)
    wtype = header(head, "WARC-Type")
    uri = header(head, "WARC-Target-URI")
    kept = (wtype == record_type) & uri.isNotNull()
    return raw.agg(
        F.count(F.lit(1)).cast("long").alias("n_frames"),
        F.sum(F.when(wtype.isNotNull(), 1).otherwise(0))
        .cast("long").alias("n_typed"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(wtype.isNull(), 1).otherwise(0))
        .cast("long").alias("n_untyped"))


def read_wet(spark: SparkSession, path: str,
             min_text_len: int = 0,
             australian_only: bool = False) -> DataFrame:
    """S1 — distributed WET scan: one row per (url, text) conversion record.

    ``path`` may be a glob of ``*.warc.wet(.gz)`` files; gzip decode is
    handled by the text source. The read is framed at record boundaries
    (see module docstring) — a 1 GB WET file never becomes a single
    task-resident string, and uncompressed files split across tasks.
    Optional filters mirror the reference's ``_should_process``
    (.au domains, parse_commoncrawl.py:187-199).
    """
    raw = spark.read.option("lineSep", _RECORD_FRAME).text(path)
    out = shred_wet_records(raw, "value")
    if min_text_len > 0:
        out = out.filter(F.length("text") >= min_text_len)
    if australian_only:
        from ..functions.text import extract_domain

        out = out.filter(extract_domain(F.col("url")).endswith(".au"))
    return out
