"""The benchmark workloads.

Each drives the engine only through its public functions
(``sources.*``, ``functions.text``, ``pipeline.*``, ``operators``) and
exposes the same interface:

- ``register()``  input registration, part of set-up;
- ``op(i)``       one timed operation of the closed loop;
- ``check(i)``    untimed output checks of op ``i``.

In a traced run every layer's output is persisted and forced inside the
layer's span (``Ctx.stage``), so execution lands on the layer that
caused it instead of on whichever action came last.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from australia_company_etl_pipeline_spark import pipeline
from australia_company_etl_pipeline_spark.functions import text as ftext
from australia_company_etl_pipeline_spark.operators import staging
from australia_company_etl_pipeline_spark.operators.block_join import (
    block_join)
from australia_company_etl_pipeline_spark.sources import abr_xml, sinks, wet


class Ctx:
    """What every workload shares: the session, its inputs and outputs,
    the tracer and the per-op counters of the traced run."""

    def __init__(self, spark, data: Path, out: Path, tracer):
        self.spark = spark
        self.data = data
        self.out = out
        self.tracer = tracer
        self.counts: dict[str, float] = {}
        self._staged: list = []

    def count(self, name: str, value: float) -> None:
        self.counts[name] = self.counts.get(name, 0) + value

    def stage(self, df, records: str | None = None):
        """Traced runs: build (done by the caller), plan and execute
        ``df`` inside the current layer span and keep it persisted for
        the next layer. Untraced runs return ``df`` untouched."""
        if not self.tracer.enabled:
            return df
        with self.tracer.span("plans.plan"):
            df._jdf.queryExecution().executedPlan()
        with self.tracer.span("plans.exec"):
            df = df.persist()
            n = df.count()
        self._staged.append(df)
        if records:
            self.count(records, n)
        return df

    def release(self) -> None:
        """Unpersist what ``stage`` kept; in a traced run, count what the
        session still holds staged at the op's end: the frames staged in
        set-up (``er_delta``'s register) and any the engine persisted."""
        for df in self._staged:
            df.unpersist(blocking=True)
        self._staged.clear()
        if self.tracer.enabled:
            self.count("staging.cached_mb", cached_mb(self.spark))


def _du(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def _web_frame(spark, path: str):
    """Raw WET records of Australian sites with the extracted company
    name and industry (the reference's extract step)."""
    raw = wet.read_wet(spark, path, australian_only=True)
    return raw.select(
        "url",
        ftext.extract_company_from_text(F.col("text")).alias("company_name"),
        ftext.extract_industry_from_text(F.col("text")).alias("industry"),
        F.col("text").alias("raw_text"))


# An op whose matches fall below these against the generator's ground
# truth counts as failed. They sit well under what the cascade reaches
# on these inputs (precision 1.0, recall about 0.82), so only a broken
# match layer trips them; the metrics' bounds catch smaller losses.
MIN_PRECISION = 0.9
MIN_RECALL = 0.6


def _match_checks(rows, truth: dict[str, str]) -> dict:
    """Invariants of matched output plus precision/recall of its
    (crawl_url, abn) pairs against the generator's ground truth."""
    problems = []
    urls = [r["crawl_url"] for r in rows]
    if len(urls) != len(set(urls)):
        problems.append("crawl_url repeated among best rows")
    for r in rows:
        scores = [r["final_score"]] + [r.get(k) for k in ("fuzzy_score",
                                                          "llm_score")
                                       if r.get(k) is not None]
        if not all(s is not None and 0.0 <= s <= 1.0 for s in scores):
            problems.append(f"score out of [0,1]: {r}")
            break
        if r["match_method"] not in ("fuzzy", "hybrid"):
            problems.append(f"match_method {r['match_method']!r}")
            break
    tp = sum(1 for r in rows if truth.get(r["crawl_url"]) == r["abn"])
    if tp < MIN_PRECISION * len(rows) or tp < MIN_RECALL * len(truth):
        problems.append(f"{tp} true matches among {len(rows)} found and "
                        f"{len(truth)} expected")
    return {"problems": problems, "tp": tp, "pred": len(rows),
            "truth": len(truth)}


class ErBatch:
    """The reference pipeline end to end on one seeded set of raw files.

    Stages meet where the reference's meet, at warehouse tables: the
    cleaned registers and the best matches are loaded (parquet here,
    Postgres in the reference) and the dbt models read those tables;
    ``int_matched_companies`` is a table model, ``dim_companies`` the
    golden table and ``fct_match_statistics`` is collected."""

    name = "er_batch"
    nominal_op_s = 5.0

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        er = ctx.data
        self.wet = str(er / "wet")
        self.abr = str(er / "abr")
        self.truth = json.loads((er / "truth.json").read_text())
        self.records_per_op = 0

    def register(self) -> None:
        self.records_per_op = sum(
            f.read_bytes().count(b"WARC-Type: conversion")
            for f in Path(self.wet).iterdir()) + sum(
            f.read_bytes().count(b"</ABR>") for f in Path(self.abr).iterdir())

    def _load(self, df, name: str):
        """Write one warehouse table and return its scan."""
        path = str(self.ctx.out / name)
        with self.ctx.tracer.span("sinks"):
            sinks.write_parquet(df, path)
        self.written.append(self.ctx.out / name)
        return self.ctx.spark.read.parquet(path)

    def op(self, i: int) -> None:
        ctx, tr, spark = self.ctx, self.ctx.tracer, self.ctx.spark
        self.written = []
        with tr.span("sources"):
            with tr.span("plans.build"):
                web = _web_frame(spark, self.wet)
                abr = abr_xml.read_abr_xml(spark, self.abr)
            web = ctx.stage(web, "sources.records")
            abr = ctx.stage(abr, "sources.records")
        with tr.span("clean"):
            with tr.span("plans.build"):
                cw = pipeline.clean_web_companies(web)
                ca = pipeline.clean_abr_entities(abr)
            cw = ctx.stage(cw, "clean.kept")
            ca = ctx.stage(ca, "clean.kept")
        cw = self._load(cw, "web_companies")
        ca = self._load(ca, "abr_entities")
        with tr.span("match"):
            with tr.span("plans.build"):
                m = pipeline.match_companies(
                    cw, ca, scorer="jaccard", use_llm=True,
                    llm_scorer=ctx.llm_scorer)
                best = pipeline.best_match_per_key(
                    m, key="crawl_url", tie_break="abn")
            best = ctx.stage(best, "match.matches")
        best = self._load(best, "entity_match_results")
        with tr.span("marts"):
            with tr.span("plans.build"):
                sw = pipeline.stg_web_companies(cw)
                sa = pipeline.stg_abr_entities(ca)
                im = pipeline.int_matched_companies(best, sw, sa)
            im = ctx.stage(im)
        im = self._load(im, "int_matched_companies")
        with tr.span("marts"):
            with tr.span("plans.build"):
                dim = pipeline.dim_companies(im, sa)
                fct = pipeline.fct_match_statistics(im, sw, sa)
            dim = ctx.stage(dim)
            with tr.span("plans.exec"):
                self.stats = fct.collect()
        self._load(dim, "golden")
        if tr.enabled:
            ctx.count("match.candidate_pairs",
                      block_join(cw, ca, key="block_key").count())
            written = sum(_du(p) for p in self.written)
            ctx.count("sinks.bytes_written", written)
            ctx.count("sinks.table_bytes", _du(self.ctx.out / "golden"))
            ctx.count("sinks.batch_bytes", _du(self.ctx.out / "golden"))
        ctx.release()

    def check(self, i: int) -> dict:
        t = pq.read_table(self.ctx.out / "golden").to_pylist()
        problems = []
        abns = [r["abn"] for r in t]
        if len(abns) != len(set(abns)):
            problems.append("abn repeated in golden table")
        matched = [r for r in t if r["website_url"] is not None]
        rows = [{"crawl_url": r["website_url"], "abn": r["abn"],
                 "final_score": r["confidence_score"],
                 "match_method": r["match_method"]} for r in matched]
        out = _match_checks(rows, self.truth)
        out["problems"] += problems
        # marts keep one page per ABN, so the statistics may count more
        # matches than the golden table holds, never fewer
        if not self.stats or self.stats[0]["total_matches"] < len(matched):
            out["problems"].append("fct_match_statistics total_matches "
                                   "below the golden table's matches")
        return out


class ErDelta:
    """Small batches of re-crawled and new pages matched against a staged
    register and upserted into the golden table, one batch per op."""

    name = "er_delta"
    nominal_op_s = 2.5

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        er = ctx.data
        self.delta = er / "delta"
        self.abr = str(er / "abr")
        self.truth = json.loads((self.delta / "truth.json").read_text())
        self.table = ctx.out / "golden_delta"
        self.records_per_op = 0

    def _best(self, cw):
        """Best match per page, then per ABN, against the register."""
        m = pipeline.match_companies(cw, self.register_df, scorer="jaccard",
                                     use_llm=True,
                                     llm_scorer=self.ctx.llm_scorer)
        best = pipeline.best_match_per_key(m, key="crawl_url",
                                           tie_break="abn")
        return pipeline.best_match_per_key(best, key="abn",
                                           tie_break="crawl_url")

    def register(self) -> None:
        spark = self.ctx.spark
        shutil.rmtree(self.table, ignore_errors=True)
        # staged at the engine's storage level for staged frames
        self.register_df = pipeline.clean_abr_entities(
            abr_xml.read_abr_xml(spark, self.abr)).persist(
                staging.resolve_level())
        self.register_df.count()
        seed = self._best(pipeline.clean_web_companies(
            _web_frame(spark, str(self.delta / "seed.warc.wet"))))
        sinks.write_parquet(seed.withColumn("batch", F.lit(-1)),
                            str(self.table))
        first = (self.delta / "batch000.warc.wet").read_bytes()
        self.records_per_op = first.count(b"WARC-Type: conversion")

    def op(self, i: int) -> None:
        ctx, tr, spark = self.ctx, self.ctx.tracer, self.ctx.spark
        batch = self.delta / f"batch{i:03d}.warc.wet"
        with tr.span("sources"):
            with tr.span("plans.build"):
                web = _web_frame(spark, str(batch))
            web = ctx.stage(web, "sources.records")
        with tr.span("clean"):
            with tr.span("plans.build"):
                cw = pipeline.clean_web_companies(web)
            cw = ctx.stage(cw, "clean.kept")
        with tr.span("match"):
            with tr.span("plans.build"):
                best = self._best(cw)
            best = ctx.stage(best, "match.matches")
        with tr.span("sinks"):
            sinks.upsert_parquet(spark, str(self.table),
                                 best.withColumn("batch", F.lit(i)),
                                 keys=["abn"])
        if tr.enabled:
            ctx.count("match.candidate_pairs", block_join(
                cw, self.register_df, key="block_key").count())
            size = _du(self.table)
            ctx.count("sinks.bytes_written", size)
            ctx.count("sinks.table_bytes", size)
            t = pq.read_table(self.table, columns=["batch"])
            n_batch = sum(1 for b in t.column("batch").to_pylist() if b == i)
            ctx.count("sinks.batch_bytes",
                      size * n_batch / max(1, t.num_rows))
        ctx.release()

    def check(self, i: int) -> dict:
        t = pq.read_table(self.table).to_pylist()
        problems = []
        abns = [r["abn"] for r in t]
        if len(abns) != len(set(abns)):
            problems.append("abn repeated in golden table after upsert")
        rows = [r for r in t if r["batch"] == i]
        out = _match_checks(rows, self.truth["batches"][i])
        out["problems"] += problems
        return out

    def stored_bytes_per_record(self) -> float:
        rows = pq.read_table(self.table, columns=["abn"]).num_rows
        return _du(self.table) / max(1, rows)


def cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(r.memSize() + r.diskSize() for r in infos) / 2**20
