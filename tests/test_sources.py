"""Sources & sinks (SURVEY §2.1): WET shredder, ABR XML shredder,
parquet upsert sink, JDBC upsert statement generation."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from australia_company_etl_pipeline_spark.sources import abr_xml, sinks, wet

WET_TEXT = (
    "WARC/1.0\r\n"
    "WARC-Type: warcinfo\r\n"
    "WARC-Date: 2024-01-01T00:00:00Z\r\n"
    "\r\n"
    "software: test\r\n"
    "\r\n"
    "WARC/1.0\r\n"
    "WARC-Type: conversion\r\n"
    "WARC-Target-URI: https://www.acme.com.au/about\r\n"
    "Content-Length: 25\r\n"
    "\r\n"
    "ACME Pty Ltd is a company\r\n"
    "\r\n"
    "WARC/1.0\r\n"
    "WARC-Type: conversion\r\n"
    "WARC-Target-URI: https://example.org/\r\n"
    "\r\n"
    "Not Australian content here\n"
    "\r\n"
    "WARC/1.0\r\n"
    "WARC-Type: response\r\n"
    "WARC-Target-URI: https://skip.me/\r\n"
    "\r\n"
    "raw http bytes\n"
)

ABR_XML = """<Transfer><ABR recordLastUpdatedDate="20240101">
<ABN status="Active" ABNStatusFromDate="20150301">51824753556</ABN>
<EntityType><EntityTypeInd>PRV</EntityTypeInd><EntityTypeText>Australian Private Company</EntityTypeText></EntityType>
<MainEntity><NonIndividualName type="MN"><NonIndividualNameText>ACME PTY LTD</NonIndividualNameText></NonIndividualName>
<BusinessAddress><AddressDetails><State>NSW</State><Postcode>2000</Postcode></AddressDetails></BusinessAddress></MainEntity>
</ABR>
<ABR><ABN status="Cancelled" ABNStatusFromDate="2001-05-12">10 000 000 000</ABN>
<EntityType><EntityTypeInd>IND</EntityTypeInd></EntityType>
<LegalEntity><IndividualName><GivenName>JANE</GivenName><GivenName>Q</GivenName><FamilyName>CITIZEN</FamilyName></IndividualName>
<BusinessAddress><AddressDetails><State>VIC</State><Postcode>3000</Postcode></AddressDetails></BusinessAddress></LegalEntity>
</ABR>
<ABR><ABN status="Active">123</ABN><EntityType><EntityTypeInd>PRV</EntityTypeInd></EntityType>
<MainEntity><NonIndividualName><NonIndividualNameText>BAD ABN CO</NonIndividualNameText></NonIndividualName></MainEntity>
</ABR></Transfer>"""


def test_wet_shreds_conversion_records(spark):
    df = spark.createDataFrame([(WET_TEXT,)], "value string")
    rows = {r.url: r.text for r in wet.parse_wet_records(df).collect()}
    # warcinfo + response records dropped, conversion kept
    assert rows == {
        "https://www.acme.com.au/about": "ACME Pty Ltd is a company",
        "https://example.org/": "Not Australian content here",
    }


def test_wet_read_filters(spark, tmp_path):
    p = tmp_path / "part.warc.wet"
    p.write_text(WET_TEXT)
    au = wet.read_wet(spark, str(p), australian_only=True).collect()
    assert [r.url for r in au] == ["https://www.acme.com.au/about"]
    long_only = wet.read_wet(spark, str(p), min_text_len=26).collect()
    assert [r.url for r in long_only] == ["https://example.org/"]


def test_abr_xml_shreds_name_cascade_and_dates(spark):
    df = spark.createDataFrame([(ABR_XML,)], "value string")
    out = abr_xml.shred_abr_xml(abr_xml.split_abr_records(df))
    rows = {r.abn: r for r in out.collect()}
    # 3rd record has a non-11-digit ABN → dropped (parse_abr.py contract)
    assert set(rows) == {"51824753556", "10000000000"}
    co = rows["51824753556"]
    assert (co.entity_name, co.entity_type, co.entity_type_code,
            co.entity_status, co.state, co.postcode) == (
        "ACME PTY LTD", "Australian Private Company", "PRV", "Active",
        "NSW", "2000")
    assert str(co.start_date) == "2015-03-01"     # yyyyMMdd parsed
    ind = rows["10000000000"]
    assert ind.entity_name == "JANE Q CITIZEN"    # given+given+family
    assert ind.entity_type == "IND"               # Text missing → Ind code
    assert str(ind.start_date) == "2001-05-12"    # ISO parsed


def _filter_conditions(df) -> list[str]:
    """SQL of every Filter condition in ``df``'s optimized plan."""
    out, stack = [], [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Filter":
            out.append(node.condition().sql())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


def test_er_source_and_clean_filters_read_computed_columns(spark,
                                                           tmp_path):
    """Every shredded and cleaned value is computed once per row, in a
    projection (operators/staging.py ``compute_once``): ``from_xml``
    appears once in the whole ABR source+clean plan, and no Filter of
    the source or clean plans re-runs a regex chain or the XML parse —
    a pushed Filter evaluates its condition with no common
    subexpression elimination."""
    from australia_company_etl_pipeline_spark import pipeline
    from australia_company_etl_pipeline_spark.functions import text as ft

    wet_p, abr_p = tmp_path / "part.warc.wet", tmp_path / "bulk.xml"
    wet_p.write_text(WET_TEXT)
    abr_p.write_text(ABR_XML)
    abr = abr_xml.read_abr_xml(spark, str(abr_p))
    abr_clean = pipeline.clean_abr_entities(abr, active_only=True)
    plan = abr_clean._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("from_xml") == 1
    assert [r.abn for r in abr_clean.collect()] == ["51824753556"]
    web = wet.read_wet(spark, str(wet_p))
    web_clean = pipeline.clean_web_companies(web.select(
        "url",
        ft.extract_company_from_text(F.col("text")).alias("company_name"),
        ft.extract_industry_from_text(F.col("text")).alias("industry")))
    for df in (web, abr, abr_clean, web_clean):
        for cond in _filter_conditions(df):
            assert "regexp_" not in cond and "from_xml" not in cond, cond
    # the .au gate reads the shredded url: one domain extraction per row
    au = wet.read_wet(spark, str(wet_p), australian_only=True)
    assert sum(c.count("regexp_extract")
               for c in _filter_conditions(au)) == 1


def _with_max_partition_bytes(spark, nbytes):
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(nbytes))
    return old


def test_wet_read_record_framed_splits_one_file(spark, tmp_path):
    """A single multi-MB uncompressed WET file must split across >1 scan
    task (record-framed read, not one-row-per-file wholetext) and still
    parse every record exactly once — including records that straddle a
    split boundary."""
    n = 2000
    recs = []
    for i in range(n):
        body = f"Document {i} body " + "x" * 3000
        recs.append(
            "WARC/1.0\r\nWARC-Type: conversion\r\n"
            f"WARC-Target-URI: https://site{i}.com.au/p\r\n"
            f"Content-Length: {len(body)}\r\n\r\n{body}\r\n\r\n")
    p = tmp_path / "big.warc.wet"
    p.write_text(
        "WARC/1.0\r\nWARC-Type: warcinfo\r\n\r\nsoftware: test\r\n\r\n"
        + "".join(recs))
    old = _with_max_partition_bytes(spark, 1 << 20)   # 1 MiB splits
    try:
        df = wet.read_wet(spark, str(p))
        assert df.rdd.getNumPartitions() > 1, "one file must split"
        out = df.collect()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert len(out) == n
    got = {r.url: r.text for r in out}
    assert set(got) == {f"https://site{i}.com.au/p" for i in range(n)}
    assert got["https://site7.com.au/p"] == "Document 7 body " + "x" * 3000


def test_abr_read_record_framed_splits_one_file(spark, tmp_path):
    """Same splittability contract for the ABR bulk-extract reader."""
    n = 1200
    pad = "p" * 2000
    recs = []
    for i in range(n):
        abn = str(10_000_000_000 + i)
        recs.append(
            f'<ABR recordLastUpdatedDate="20240101">'
            f'<ABN status="Active" ABNStatusFromDate="20150301">{abn}</ABN>'
            f"<EntityType><EntityTypeInd>PRV</EntityTypeInd></EntityType>"
            f"<MainEntity><NonIndividualName><NonIndividualNameText>"
            f"COMPANY {i}</NonIndividualNameText></NonIndividualName>"
            f"<BusinessAddress><AddressDetails><State>NSW</State>"
            f"<Postcode>2000</Postcode></AddressDetails></BusinessAddress>"
            f"</MainEntity><Padding>{pad}</Padding></ABR>\n")
    p = tmp_path / "bulk.xml"
    p.write_text("<Transfer>\n" + "".join(recs) + "</Transfer>\n")
    old = _with_max_partition_bytes(spark, 512 << 10)  # 512 KiB splits
    try:
        df = abr_xml.read_abr_xml(spark, str(p))
        assert df.rdd.getNumPartitions() > 1, "one file must split"
        out = df.collect()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert len(out) == n
    got = {r.abn: r.entity_name for r in out}
    assert got[str(10_000_000_000 + 7)] == "COMPANY 7"
    assert len(got) == n


def test_wet_read_gzip_record_rows(spark, tmp_path):
    """Gzip WET files can't split (codec limit) but must still arrive as
    one row per record, never one whole-file string."""
    import gzip

    p = tmp_path / "part.warc.wet.gz"
    with gzip.open(p, "wt") as f:
        f.write(WET_TEXT)
    out = wet.read_wet(spark, str(p)).collect()
    assert {r.url for r in out} == {"https://www.acme.com.au/about",
                                    "https://example.org/"}


def test_upsert_parquet_merge_semantics(spark, tmp_path):
    path = str(tmp_path / "tbl")
    v1 = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (3, "c", 1)], "k int, v string, ver int")
    sinks.upsert_parquet(spark, path, v1, keys=["k"], version_col="ver")
    v2 = spark.createDataFrame(
        [(2, "b2", 2), (4, "d", 2)], "k int, v string, ver int")
    sinks.upsert_parquet(spark, path, v2, keys=["k"], version_col="ver")
    got = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "b2", 3: "c", 4: "d"}
    # stale update (lower version) must NOT win
    v0 = spark.createDataFrame([(2, "old", 0)], "k int, v string, ver int")
    sinks.upsert_parquet(spark, path, v0, keys=["k"], version_col="ver")
    got = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert got[2] == "b2"
    assert not os.path.exists(path + ".__staging__")


def test_jdbc_upsert_sql_variants():
    up = sinks.jdbc_upsert_sql("abr_entities", ["abn", "name", "state"],
                               ["abn"])
    assert up == ("INSERT INTO abr_entities (abn, name, state) "
                  "VALUES (%s, %s, %s) ON CONFLICT (abn) DO UPDATE SET "
                  "name = EXCLUDED.name, state = EXCLUDED.state")
    ignore = sinks.jdbc_upsert_sql("web_companies", ["url", "name"],
                                   ["url"], update_columns=[])
    assert ignore.endswith("ON CONFLICT (url) DO NOTHING")
    partial = sinks.jdbc_upsert_sql("t", ["a", "b", "c"], ["a"],
                                    update_columns=["c"])
    assert partial.endswith("DO UPDATE SET c = EXCLUDED.c")


def test_write_jdbc_upsert_needs_driver(spark):
    df = spark.createDataFrame([(1, "x")], "k int, v string")
    with pytest.raises(Exception) as ei:
        sinks.write_jdbc_upsert(df, "dbname=none", "t", ["k"])
    assert "psycopg2" in str(ei.value)


def test_write_jdbc_upsert_duckdb_roundtrip(spark, tmp_path):
    """The REAL foreachPartition path — executor-side ``load_partition`` →
    ``cursor.executemany`` in batch_size chunks → commit — against a DuckDB
    file via ``connection_factory``, asserting the reference's ON CONFLICT
    semantics (load_postgres.py:188-372): DO UPDATE refreshes the
    conflicting row, DO NOTHING leaves it untouched, new keys insert.
    Single partition: DuckDB allows one writer process at a time."""
    import duckdb

    # nested def → cloudpickle ships it by VALUE to executors (a module
    # top-level function would pickle by reference and fail to import
    # there; duckdb.connect itself is a PyCapsule — not picklable at all)
    def _duckdb_factory(dsn):
        import duckdb

        return duckdb.connect(dsn)

    db = str(tmp_path / "sink.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE abr (abn INTEGER PRIMARY KEY, "
                "name VARCHAR, state VARCHAR)")
    con.execute("INSERT INTO abr VALUES (1, 'one-v1', 'NSW'), "
                "(2, 'two-v1', 'VIC')")
    con.close()

    # upsert (DO UPDATE): key 2 refreshed, key 3 inserted, key 1 untouched
    up = spark.createDataFrame(
        [(2, "two-v2", "QLD"), (3, "three-v1", "SA")],
        "abn int, name string, state string").coalesce(1)
    sinks.write_jdbc_upsert(up, db, "abr", ["abn"],
                            connection_factory=_duckdb_factory,
                            placeholder="?", batch_size=1)
    con = duckdb.connect(db)
    got = {k: (n, s) for k, n, s in
           con.execute("SELECT abn, name, state FROM abr").fetchall()}
    con.close()
    assert got == {1: ("one-v1", "NSW"), 2: ("two-v2", "QLD"),
                   3: ("three-v1", "SA")}

    # conflict-ignore (DO NOTHING, S8): key 1 NOT overwritten, key 4 added
    ig = spark.createDataFrame(
        [(1, "one-overwrite-attempt", "XXX"), (4, "four-v1", "WA")],
        "abn int, name string, state string").coalesce(1)
    sinks.write_jdbc_upsert(ig, db, "abr", ["abn"], update_columns=[],
                            connection_factory=_duckdb_factory,
                            placeholder="?", batch_size=1000)
    con = duckdb.connect(db)
    got = {k: (n, s) for k, n, s in
           con.execute("SELECT abn, name, state FROM abr").fetchall()}
    con.close()
    assert got == {1: ("one-v1", "NSW"), 2: ("two-v2", "QLD"),
                   3: ("three-v1", "SA"), 4: ("four-v1", "WA")}


def test_ensure_min_partitions_gate_without_rdd(spark, tmp_path, sf_dir):
    """The under-split gate must fire on a 1-file scan, stay out of the
    way when the scan already has enough splits (identity — no shuffle),
    and still handle in-memory relations."""
    from australia_company_etl_pipeline_spark.session import (
        ensure_min_partitions,
    )

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert ensure_min_partitions(df, target=8).rdd.getNumPartitions() >= 8

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    try:
        well_split = spark.read.parquet(f"{sf_dir}/documents.parquet")
        assert ensure_min_partitions(well_split, target=2) is well_split
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)

    mem = spark.createDataFrame([(1,)], "x int")
    assert ensure_min_partitions(mem, target=4).rdd.getNumPartitions() == 4

    # a post-shuffle in-memory frame is already shuffle.partitions wide —
    # the gate must leave it alone (identity), not re-shuffle it
    agg = (spark.range(0, 1000, 1, 8)
           .groupBy((F.col("id") % 10).alias("g")).count())
    assert ensure_min_partitions(agg, target=64) is agg


def test_wet_scan_stats_and_delimiter_collision(spark, tmp_path):
    """Shred-loss metrics: clean archives report zero untyped frames; a
    record body embedding the frame delimiter surfaces as n_untyped > 0
    instead of silent loss (the documented delimiter-collision mode)."""
    p = tmp_path / "clean.warc.wet"
    p.write_text(WET_TEXT)
    r = wet.wet_scan_stats(spark, str(p)).head()
    # warcinfo / conv1 frames + conv2 (whose frame absorbs the LF-only
    # separated response record — spec-conformant records use CRLF)
    assert (r.n_frames, r.n_typed, r.n_kept, r.n_untyped) == (3, 3, 2, 0)

    evil = ("WARC/1.0\r\n"
            "WARC-Type: conversion\r\n"
            "WARC-Target-URI: https://evil.com.au/\r\n"
            "\r\n"
            "body first half\r\n\r\nWARC/9.9 fake header in body text\r\n")
    p2 = tmp_path / "collide.warc.wet"
    p2.write_text(WET_TEXT + "\r\n\r\n" + evil)
    r2 = wet.wet_scan_stats(spark, str(p2)).head()
    assert r2.n_untyped == 1          # split-off body fragment, no headers
    assert r2.n_kept == 3             # evil's head half still has its URI


def test_abr_scan_stats_and_unparsed_records(spark, tmp_path):
    p = tmp_path / "bulk.xml"
    p.write_text(ABR_XML)
    r = abr_xml.abr_scan_stats(spark, str(p)).head()
    # 3 <ABR> records (+1 footer frame); record 3 has a non-11-digit ABN
    assert (r.n_frames, r.n_records, r.n_shredded, r.n_unparsed) == (4, 3, 2, 0)

    p2 = tmp_path / "corrupt.xml"
    p2.write_text(ABR_XML.replace(
        "</Transfer>", "<ABR><EntityType><Oops></ABR></Transfer>"))
    r2 = abr_xml.abr_scan_stats(spark, str(p2)).head()
    assert r2.n_records == 4 and r2.n_unparsed == 1


def test_upsert_parquet_partitioned_touches_only_affected(spark, tmp_path):
    """Partition-scoped MERGE: day=2 merged, day=4 added, day=1/3 files
    bit-untouched on disk (the O(K partitions) incremental-load claim)."""
    import glob

    path = str(tmp_path / "ptbl")
    v1 = spark.createDataFrame(
        [(1, "a", 1, 1), (2, "b", 1, 1), (3, "c", 2, 1), (4, "d", 3, 1)],
        "k int, v string, day int, ver int")
    sinks.upsert_parquet_partitioned(spark, path, v1, keys=["k"],
                                     partition_col="day")
    untouched_before = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{path}/day=1/*.parquet")
        + glob.glob(f"{path}/day=3/*.parquet")}
    assert untouched_before

    updates = spark.createDataFrame(
        [(3, "c2", 2, 2), (9, "new", 2, 2), (5, "e", 4, 2)],
        "k int, v string, day int, ver int")
    sinks.upsert_parquet_partitioned(spark, path, updates, keys=["k"],
                                     partition_col="day",
                                     version_col="ver")
    got = {r.k: (r.v, r.day) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a", 1), 2: ("b", 1), 3: ("c2", 2), 9: ("new", 2),
                   4: ("d", 3), 5: ("e", 4)}
    untouched_after = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{path}/day=1/*.parquet")
        + glob.glob(f"{path}/day=3/*.parquet")}
    assert untouched_after == untouched_before   # same files, same mtimes

    # stale update (lower version) must NOT win inside its partition
    stale = spark.createDataFrame([(3, "old", 2, 1)],
                                  "k int, v string, day int, ver int")
    sinks.upsert_parquet_partitioned(spark, path, stale, keys=["k"],
                                     partition_col="day",
                                     version_col="ver")
    assert {r.k: r.v for r in spark.read.parquet(path).collect()}[3] == "c2"


def test_upsert_parquet_partitioned_null_partition_scoped_conf(
        spark, tmp_path):
    """Rows with a NULL partition value must merge against the existing
    default partition (not silently delete its un-updated keys), and the
    dynamic-overwrite setting must stay scoped to the write — the shared
    session conf is never mutated."""
    path = str(tmp_path / "ptbl_null")
    v1 = spark.createDataFrame(
        [(1, "a", None), (2, "b", 1), (3, "c", None)],
        "k int, v string, day int")
    sinks.upsert_parquet_partitioned(spark, path, v1, keys=["k"],
                                     partition_col="day")
    updates = spark.createDataFrame(
        [(3, "c2", None), (9, "new", None)], "k int, v string, day int")
    sinks.upsert_parquet_partitioned(spark, path, updates, keys=["k"],
                                     partition_col="day")
    got = {r.k: (r.v, r.day) for r in spark.read.parquet(path).collect()}
    # key 1 lives in the NULL partition and was NOT in the batch — it
    # must survive the partition rewrite
    assert got == {1: ("a", None), 2: ("b", 1), 3: ("c2", None),
                   9: ("new", None)}
    assert spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode").lower() == "static"


def test_upsert_parquet_model_based(spark, tmp_path_factory):
    """Property-based MERGE check (the reference repo has no
    property-based tests at all — SURVEY §5): random upsert-batch
    sequences must leave the table equal to a dict model where an update
    wins iff its version >= the incumbent's (ties favor the update, the
    documented tiebreak). Keys are unique within a batch — duplicate
    (key, version) pairs inside ONE batch are unordered by contract."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    batch = st.lists(
        st.tuples(st.integers(0, 5),
                  st.text(alphabet="abc", min_size=0, max_size=3),
                  st.integers(0, 3)),
        min_size=1, max_size=6, unique_by=lambda t: t[0])

    @settings(max_examples=6, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(batches=st.lists(batch, min_size=1, max_size=3))
    def run(batches):
        path = str(tmp_path_factory.mktemp("hyp") / "tbl")
        model = {}
        for b in batches:
            df = spark.createDataFrame(b, "k int, v string, ver int")
            sinks.upsert_parquet(spark, path, df, keys=["k"],
                                 version_col="ver")
            for k, v, ver in b:
                if k not in model or ver >= model[k][1]:
                    model[k] = (v, ver)
        got = {r.k: (r.v, r.ver)
               for r in spark.read.parquet(path).collect()}
        assert got == model

    run()


def test_upsert_partitioned_bootstrap_probe_not_os_path(
        spark, tmp_path, monkeypatch):
    """Review regression: the does-the-table-exist probe must READ the
    path, not stat it driver-locally — on an object store os.path is
    always False and every batch would take the first-write overwrite
    branch, wiping prior merges. Simulated by forcing os.path.exists to
    False: the second merge must still MERGE, not overwrite."""
    path = str(tmp_path / "t")
    v1 = spark.createDataFrame([(1, "a", "p1"), (2, "b", "p2")],
                               "k long, v string, part string")
    sinks.upsert_parquet_partitioned(spark, path, v1, keys=["k"],
                                     partition_col="part")
    monkeypatch.setattr(os.path, "exists", lambda p: False)
    up = spark.createDataFrame([(3, "c", "p2")],
                               "k long, v string, part string")
    sinks.upsert_parquet_partitioned(spark, path, up, keys=["k"],
                                     partition_col="part")
    got = {(r.k, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}


def test_upsert_partitioned_empty_first_batch_does_not_wedge(
        spark, tmp_path):
    """Review regression: an empty FIRST batch must not write a
    _SUCCESS-only directory that wedges every later merge with
    UNABLE_TO_INFER_SCHEMA (routine for a stream's first micro-batch)."""
    path = str(tmp_path / "t")
    schema = "k long, v string, part string"
    empty = spark.createDataFrame([], schema)
    sinks.upsert_parquet_partitioned(spark, path, empty, keys=["k"],
                                     partition_col="part")
    v1 = spark.createDataFrame([(1, "a", "p1")], schema)
    sinks.upsert_parquet_partitioned(spark, path, v1, keys=["k"],
                                     partition_col="part")
    assert {(r.k, r.v) for r in spark.read.parquet(path).collect()} \
        == {(1, "a")}


def test_ensure_min_partitions_column_name_no_false_positive(spark):
    """Review regression: shuffle-op detection matches node HEADS, not
    raw substrings — a column literally named 'JoinDate' must not make
    the gate think the frame is post-shuffle and skip the spread."""
    from australia_company_etl_pipeline_spark.session import (
        _plan_has_shuffle_op,
        ensure_min_partitions,
    )

    mem = spark.createDataFrame(
        [(str(i), "t") for i in range(100)],
        "JoinDate string, WindowStart string")
    assert not _plan_has_shuffle_op(mem)
    assert ensure_min_partitions(mem, target=4).rdd.getNumPartitions() == 4
    agged = mem.groupBy("JoinDate").count()
    assert _plan_has_shuffle_op(agged)  # real Aggregate still detected


def test_jsonl_read_stats_and_roundtrip(spark, tmp_path):
    """JSONL corpus source: explicit-schema PERMISSIVE read preserves
    broken lines in the corrupt column (nothing vanishes), the scan
    audit counts them, and a sharded gzip round-trip restores the clean
    rows exactly — including omitted-NULL fields."""
    import gzip
    import json

    from australia_company_etl_pipeline_spark.sources import jsonl

    good = [{"doc_id": 1, "lang": "en", "text": "alpha beta"},
            {"doc_id": 2, "lang": None, "text": "gamma"},   # NULL field
            {"doc_id": 3, "lang": "de", "text": "delta"}]
    lines = [json.dumps(g) for g in good]
    lines.insert(1, '{"doc_id": 4, "lang": "en", "text": "trunca')  # broken
    lines.insert(3, '{"doc_id": "not-a-number", "lang": "en", '
                    '"text": "type drift"}')                        # drift
    p = tmp_path / "shard-00000.jsonl"
    p.write_text("\n".join(lines) + "\n")
    # a second, gzipped shard — the common release layout
    pz = tmp_path / "shard-00001.jsonl.gz"
    with gzip.open(pz, "wt") as f:
        f.write(json.dumps({"doc_id": 9, "lang": "zh",
                            "text": "epsilon"}) + "\n")

    raw = jsonl.read_jsonl(spark, str(tmp_path))
    stats = jsonl.jsonl_scan_stats(raw).head()
    assert stats.n_lines == 6
    assert stats.n_corrupt == 2      # broken JSON + long-field type drift
    clean = jsonl.valid_rows(raw)
    got = {r.doc_id: (r.lang, r.text) for r in clean.collect()}
    assert got == {1: ("en", "alpha beta"), 2: (None, "gamma"),
                   3: ("de", "delta"), 9: ("zh", "epsilon")}

    out = tmp_path / "release"
    jsonl.write_jsonl(clean, str(out))
    back = jsonl.valid_rows(jsonl.read_jsonl(spark, str(out)))
    assert {r.doc_id: (r.lang, r.text) for r in back.collect()} == got
    stats2 = jsonl.jsonl_scan_stats(jsonl.read_jsonl(spark, str(out))).head()
    assert stats2.n_corrupt == 0 and stats2.corrupt_rate == 0.0


def test_jsonl_schema_collision_and_explicit_schema(spark, tmp_path):
    """corrupt_col colliding with a schema field must fail loudly, and a
    caller-supplied schema (extra meta field) drives the parser."""
    import json

    import pytest
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    from australia_company_etl_pipeline_spark.sources import jsonl

    with pytest.raises(ValueError, match="collides"):
        jsonl.read_jsonl(spark, str(tmp_path),
                         schema=StructType([
                             StructField("_corrupt_record", StringType())]))

    p = tmp_path / "meta.jsonl"
    p.write_text(json.dumps({"doc_id": 7, "url": "https://example.com/x",
                             "text": "zeta"}) + "\n")
    schema = StructType([StructField("doc_id", LongType()),
                         StructField("url", StringType()),
                         StructField("text", StringType())])
    row = jsonl.valid_rows(jsonl.read_jsonl(spark, str(p),
                                            schema=schema)).head()
    assert (row.doc_id, row.url, row.text) == (
        7, "https://example.com/x", "zeta")


def test_compact_parquet_flat_and_partitioned(spark, tmp_path):
    """Small-file compaction: row-identical rewrite with far fewer
    files, atomic swap (no temp/backup dirs left), partition layout
    preserved when partitioned."""
    from australia_company_etl_pipeline_spark.sources import sinks

    flat = str(tmp_path / "flat")
    (spark.range(0, 2000)
     .select(F.col("id"), (F.col("id") % 7).alias("v"))
     .write.option("maxRecordsPerFile", 50).parquet(flat))
    stats = sinks.compact_parquet(spark, flat, sort_col="id")
    assert stats["files_before"] >= 40
    assert stats["files_after"] < stats["files_before"]
    back = spark.read.parquet(flat)
    assert back.count() == 2000
    assert back.agg(F.sum("id")).head()[0] == sum(range(2000))
    import os
    assert not os.path.exists(flat + ".__compact_tmp")
    assert not os.path.exists(flat + ".__old")

    part = str(tmp_path / "part")
    (spark.range(0, 1000)
     .select(F.col("id"), (F.col("id") % 4).alias("p"))
     .write.option("maxRecordsPerFile", 20).partitionBy("p").parquet(part))
    stats = sinks.compact_parquet(spark, part, partition_col="p",
                                  sort_col="id")
    assert stats["files_after"] < stats["files_before"]
    back = spark.read.parquet(part)
    assert back.count() == 1000
    # partition directories preserved → partition pruning still works
    assert {"p=0", "p=1", "p=2", "p=3"} <= set(os.listdir(part))
    assert back.filter(F.col("p") == 2).count() == 250


def test_replace_dir_swap_and_stale_backup_cleanup(spark, tmp_path):
    """session.replace_dir: swaps atomically, removes the backup, and a
    stale .__old left by a crashed prior swap never blocks the next one.
    A missing tmp raises instead of destroying the target."""
    import os

    import pytest

    from australia_company_etl_pipeline_spark.session import replace_dir

    final = str(tmp_path / "tbl")
    spark.range(5).write.parquet(final)
    # simulate a crashed prior swap's leftover backup
    os.makedirs(final + ".__old")
    (tmp_path / "tbl.__old" / "junk").write_text("stale")

    tmp = str(tmp_path / "tbl.new")
    spark.range(9).write.parquet(tmp)
    replace_dir(spark, tmp, final)
    assert spark.read.parquet(final).count() == 9
    assert not os.path.exists(final + ".__old")
    assert not os.path.exists(tmp)

    with pytest.raises(IOError):
        replace_dir(spark, str(tmp_path / "nope"), final)
    assert spark.read.parquet(final).count() == 9   # target untouched


def test_write_training_shards_deterministic_shuffle(spark, tmp_path):
    """Seeded hash order: reproducible across writes, decorrelated from
    the input key order, re-drawn by bumping the seed, lossless."""
    import glob

    from australia_company_etl_pipeline_spark.sources import sinks

    df = spark.createDataFrame([(i, f"t{i}") for i in range(300)],
                               "doc_id long, text string")

    def read_order(path):
        out = []
        for shard in sorted(glob.glob(f"{path}/part-*.parquet")):
            out += [r.doc_id for r in
                    spark.read.parquet(shard).collect()]
        return out

    p1, p2, p3 = (str(tmp_path / n) for n in ("a", "b", "c"))
    sinks.write_training_shards(df, p1, "doc_id", shards=4, seed=1)
    sinks.write_training_shards(df.repartition(11), p2, "doc_id",
                                shards=4, seed=1)
    sinks.write_training_shards(df, p3, "doc_id", shards=4, seed=2)

    o1, o2, o3 = read_order(p1), read_order(p2), read_order(p3)
    assert o1 == o2                      # layout-independent, same seed
    assert o1 != o3                      # seed re-shuffles
    assert sorted(o1) == list(range(300)) == sorted(o3)  # lossless
    # decorrelated from id order: positions of ids 0..299 look shuffled
    pos = {d: i for i, d in enumerate(o1)}
    n = 300
    import statistics
    rho = statistics.correlation(list(range(n)),
                                 [pos[i] for i in range(n)])
    assert abs(rho) < 0.25, rho


def test_write_curriculum_shards_annealing_order(spark, tmp_path):
    """r8 curriculum writer: shard-sequential read order is ascending
    in quality BLOCKS (annealing — cleanest data last), decorrelated
    within a block, reproducible, lossless; NULL scores land first."""
    import glob

    from australia_company_etl_pipeline_spark.sources import sinks

    rows = [(i, float((i * 37) % 400)) for i in range(400)]
    df = (spark.createDataFrame(rows, "doc_id long, quality double")
          # two NULL-score rows must land at the very front (block 0)
          .unionByName(spark.createDataFrame(
              [(1000, None), (1001, None)],
              "doc_id long, quality double")))

    def read_rows(path):
        out = []
        for shard in sorted(glob.glob(f"{path}/part-*.parquet")):
            out += spark.read.parquet(shard).collect()
        return out

    p1, p2 = str(tmp_path / "c1"), str(tmp_path / "c2")
    sinks.write_curriculum_shards(df, p1, "doc_id", "quality",
                                  shards=4, blocks=4, seed=1)
    sinks.write_curriculum_shards(df.repartition(13), p2, "doc_id",
                                  "quality", shards=4, blocks=4, seed=1)
    r1, r2 = read_rows(p1), read_rows(p2)
    assert [r.doc_id for r in r1] == [r.doc_id for r in r2]  # reproducible
    assert sorted(r.doc_id for r in r1) == sorted(
        [i for i in range(400)] + [1000, 1001])              # lossless
    # NULL scores land in block 0: both appear before any block>=1 row
    null_pos = [i for i, r in enumerate(r1) if r.quality is None]
    first_b1 = min(i for i, r in enumerate(r1)
                   if r.quality is not None and r.quality >= 100.0)
    assert len(null_pos) == 2 and max(null_pos) < first_b1
    # block sequence is nondecreasing: quartile index of quality along
    # the read order never steps down (NULLs -> block 0)
    def block(q):
        if q is None:
            return 0
        return min(3, int(q // 100))
    blocks_seq = [block(r.quality) for r in r1]
    assert all(a <= b for a, b in zip(blocks_seq, blocks_seq[1:])), \
        blocks_seq[:20]
    # within the first full block, order is decorrelated from doc_id
    first_block = [r.doc_id for r in r1 if block(r.quality) == 0
                   and r.quality is not None]
    import statistics
    pos = {d: i for i, d in enumerate(first_block)}
    ids = sorted(first_block)
    rho = statistics.correlation(ids, [pos[i] for i in ids])
    assert abs(rho) < 0.35, rho

    import pytest as _pt
    with _pt.raises(ValueError, match="blocks"):
        sinks.write_curriculum_shards(df, p1, "doc_id", "quality",
                                      shards=4, blocks=1)


def test_write_curriculum_shards_empty_and_all_null_scores(spark,
                                                           tmp_path):
    """Review regression (r8): an emptied-upstream input or an all-NULL
    score column must degrade to the flat writer's behavior (one
    block), not crash on a NULL percentile result."""
    from australia_company_etl_pipeline_spark.sources import sinks

    schema = "doc_id long, quality double"
    empty = spark.createDataFrame([], schema)
    p = str(tmp_path / "empty")
    sinks.write_curriculum_shards(empty, p, "doc_id", "quality",
                                  shards=2, blocks=4)
    assert spark.read.schema(schema).parquet(p).count() == 0

    allnull = spark.createDataFrame([(i, None) for i in range(20)],
                                    schema)
    p2 = str(tmp_path / "allnull")
    sinks.write_curriculum_shards(allnull, p2, "doc_id", "quality",
                                  shards=2, blocks=4)
    got = spark.read.parquet(p2)
    assert sorted(r.doc_id for r in got.collect()) == list(range(20))
