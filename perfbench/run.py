"""Benchmark entry point: one seeded workload per process.

    python3 perfbench/run.py --workload er_batch --seed 1 --seconds 10 \
        --trace 0

Run from the root of a source checkout. Prints one line per metric with
its unit, then, as the last line, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics of a traced run (see
README.md) with ``--trace 1``.

    python3 perfbench/run.py --report 10 [--workload NAME] [--seconds N]

runs each workload in N fresh processes, one seed each, and prints the
steadiness report: median, quartiles and range of every metric, and the
per-op CPU, GC, JIT and steal of each run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = HERE / ".cache"
WORKLOADS = ("er_batch", "er_delta")
# Untimed-in-run_s warm-up ops, part of set-up. Fixed, never adaptive:
# an adaptive warm-up makes setup_s jump by whole ops.
WARMUP = {"er_batch": 2, "er_delta": 3}
# local[2] leaves two of the host's 4 vCPUs to the JIT compiler threads,
# the Arrow Python workers and the driver process (STEADINESS.md has the
# measurements behind it); the heap fits a 15 GB host.
THREADS = 2
HEAP = "2g"
UNITS = {"setup_s": "s", "run_s": "s", "ops_per_s": "1/s",
         "records_per_s": "1/s", "latency_s": "s", "peak_heap_mb": "MB",
         "match_precision": "fraction", "match_recall": "fraction"}
END_TO_END = tuple(UNITS)
LAYER_UNITS = {
    "session.start_s": "s", "sources.scan_s": "s", "sources.records": "count",
    "clean.s": "s", "clean.kept_frac": "ratio", "match.s": "s",
    "match.candidate_pairs": "count", "match.pairs_per_match": "ratio",
    "match.llm_rows": "count", "match.arrow_rows": "count", "marts.s": "s",
    "sinks.s": "s", "sinks.bytes_written": "bytes", "sinks.write_amp": "ratio",
    "sinks.table_bytes": "bytes", "plans.build_s": "s", "plans.plan_s": "s",
    "plans.exec_s": "s", "staging.cached_mb": "MB", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count",
    "spark.tasks_failed": "count", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB", "jvm.cpu_s": "s", "jvm.gc_s": "s",
    "jvm.jit_s": "s", "py.cpu_s": "s", "host.steal_frac": "ratio",
    "trace.overhead_s": "s"}


def n_ops(workload, seconds: int) -> int:
    """Timed ops for a run of ``seconds``: a fixed function of the
    arguments, so every run of a workload measures the same work."""
    return max(2, round(seconds / workload.nominal_op_s))


def session_conf(cache: Path) -> dict[str, str]:
    tmp = cache / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return {
        "spark.master": f"local[{THREADS}]",
        "spark.driver.memory": HEAP,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(cache / "spark-local"),
        "spark.sql.warehouse.dir": str(cache / "warehouse"),
        "spark.driver.extraJavaOptions":
            "-XX:ReservedCodeCacheSize=512m -XX:+UseParallelGC "
            f"-XX:-UseAdaptiveSizePolicy -Xms{HEAP} -Djava.io.tmpdir={tmp} "
            # no /tmp/hsperfdata file: a run writes only inside its checkout
            "-XX:-UsePerfData",
        # keep every job and stage of a run for the end-of-run totals
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def start_session(cache: Path):
    from australia_company_etl_pipeline_spark.session import get_spark

    # Python workers import the engine package from this checkout and
    # keep their temporary files inside it.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = str(cache / "tmp")
    tempfile.tempdir = None  # drop a temp dir cached before the change
    # the JVM that spark-submit runs to build its command line
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    spark = get_spark("perfbench", shuffle_partitions=THREADS,
                      extra_conf=session_conf(cache))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for task in Path(f"/proc/{p}/task").glob("*/children"):
            kids = [int(c) for c in task.read_text().split()]
            out += kids
            todo += kids
    return out


def stop_session(spark) -> None:
    """Stop Spark, the JVM and the Python workers it started, and wait
    until each has exited."""
    from pyspark import SparkContext

    kids = _descendants(int(spark._jvm.java.lang.ProcessHandle.current()
                            .pid()))
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 10
    for pid in kids:
        while Path(f"/proc/{pid}").exists():
            if time.monotonic() > deadline:
                os.kill(pid, 9)
                deadline = float("inf")
            time.sleep(0.05)


def counting_scorer(acc):
    """The stub LLM scorer, counting the rows it is asked to score."""
    from australia_company_etl_pipeline_spark.pipeline import stub_llm_scorer

    def scorer(batch):
        acc.add(len(batch))
        return stub_llm_scorer(batch)

    scorer.context_cols = stub_llm_scorer.context_cols
    return scorer


def run_ops(wl, ctx, probe, first: int, n: int) -> list[dict]:
    """Closed loop, one client: op ``first`` .. ``first + n - 1``. Each
    op is timed alone; its checks and counters are read untimed."""
    sc = ctx.spark.sparkContext
    out = []
    for i in range(first, first + n):
        group = f"op{i}"
        sc.setJobGroup(group, group)
        ctx.tracer.op = i
        # every op starts from a collected heap: the previous op's garbage
        # is not collected inside this op's time, and heap peaks are per op
        probe.full_gc()
        probe.reset_peak_heap()
        before = probe.sample()
        error = None
        t = time.perf_counter()
        try:
            with ctx.tracer.span("op"):
                wl.op(i)
        except Exception:  # a failed op is counted; the run goes on
            error = traceback.format_exc(limit=3)
            print(error, file=sys.stderr)
        wall = time.perf_counter() - t
        rec = {"i": i, "wall_s": wall, "peak_heap_mb": probe.peak_heap_mb(),
               **probe.delta(before, probe.sample()),
               **probe.group_counts(group)}
        chk = ({"problems": [error], "tp": 0, "pred": 0, "truth": 0}
               if error else wl.check(i))
        if rec["tasks_failed"]:
            chk["problems"].append(f"{rec['tasks_failed']} failed tasks")
        rec.update(chk)
        rec["records"] = wl.records_per_op
        out.append(rec)
    sc.setJobGroup("between-ops", "between-ops")
    return out


def tail(values: list[float]) -> tuple[float, float, int] | None:
    """(value, percentile, n) of the highest percentile with ten samples
    beyond it; None when there are too few samples."""
    n = len(values)
    if n < 11:
        return None
    v = sorted(values)
    return v[n - 11], 100.0 * (n - 10) / n, n


def bench(args) -> int:
    sys.path.insert(0, str(ROOT))
    try:
        import australia_company_etl_pipeline_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    import gen
    import workloads as w
    from probe import Probe
    from spans import Tracer

    data = gen.inputs(args.seed)  # untimed, cached per seed
    run_dir = CACHE / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "out").mkdir(parents=True)

    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(run_dir)
        session_s = time.perf_counter() - t0
        probe = Probe(spark)
        tracer = Tracer(False)
        ctx = w.Ctx(spark, data, run_dir / "out", tracer)
        from australia_company_etl_pipeline_spark.pipeline import (
            stub_llm_scorer)
        ctx.llm_scorer = stub_llm_scorer
        kinds = {"er_batch": w.ErBatch, "er_delta": w.ErDelta}
        wl = kinds[args.workload](ctx)
        wl.register()
        register_s = time.perf_counter() - t0 - session_s
        warm = run_ops(wl, ctx, probe, 0, WARMUP[args.workload])
        setup_s = time.perf_counter() - t0
        print(f"# set-up {setup_s:.2f} s (session {session_s:.2f} s, "
              f"register {register_s:.2f} s, warm-up ops "
              + " ".join(f"{r['wall_s']:.2f}" for r in warm) + " s)",
              file=sys.stderr)

        n = n_ops(wl, args.seconds)
        before = probe.stage_totals()
        ops = run_ops(wl, ctx, probe, len(warm), n)
        totals = {k: v - before[k] for k, v in probe.stage_totals().items()}
        stored = (wl.stored_bytes_per_record()
                  if hasattr(wl, "stored_bytes_per_record") else None)
        traced = []
        if args.trace:
            tracer.enabled = True
            acc = spark.sparkContext.accumulator(0)
            ctx.llm_scorer = counting_scorer(acc)
            since = probe.last_execution()
            traced = run_ops(wl, ctx, probe, len(warm) + n, n)
            ctx.count("match.llm_rows", acc.value)
            ctx.count("match.arrow_rows",
                      probe.sql_rows(since, "ArrowEvalPython"))
        tp = sum(r["tp"] for r in ops)
        pred = sum(r["pred"] for r in ops)
        truth = sum(r["truth"] for r in ops)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    every = warm + ops + traced
    failed = sum(1 for r in every if r["problems"])
    for r in every:
        for p in r["problems"][:3]:
            print(f"op {r['i']} FAILED CHECK: {p}", file=sys.stderr)
    walls = [r["wall_s"] for r in ops]
    run_s = sum(walls)
    e2e = {
        "setup_s": setup_s,
        "run_s": run_s,
        "ops_per_s": len(ops) / run_s,
        "records_per_s": sum(r["records"] for r in ops) / run_s,
        "latency_s": statistics.median(walls),
        "peak_heap_mb": statistics.median(r["peak_heap_mb"] for r in ops),
        "match_precision": tp / pred if pred else 0.0,
        "match_recall": tp / truth if truth else 0.0,
    }
    print(f"# workload {args.workload} seed {args.seed}: {len(ops)} timed "
          f"ops after {len(warm)} warm-up ops, local[{THREADS}], "
          f"heap {HEAP}")
    for k in END_TO_END:
        print(f"{k:<24} {e2e[k]:>14.6g} {UNITS[k]}")
    t = tail(walls)
    print(f"{'latency_tail_s':<24} " + (
        f"{t[0]:>14.6g} s   (p{t[1]:.0f} of n={t[2]}, 10 beyond)" if t
        else f"{'n/a':>14}     (n={len(walls)} ops; needs 11)"))
    print(f"{'fail_frac':<24} {failed / len(every):>14.6g} ratio   "
          f"({failed} of {len(every)} ops)")
    if stored is not None:
        print(f"{'stored_bytes_per_record':<24} {stored:>14.6g} bytes")
    attribution = {k: sum(r[k] for r in ops) for k in (
        "jvm_cpu_s", "py_cpu_s", "gc_s", "jit_s", "jobs", "stages",
        "tasks", "tasks_failed")}
    attribution["steal_frac"] = statistics.mean(r["steal_frac"] for r in ops)
    attribution.update(totals)
    print("# attribution " + json.dumps(
        {"run": attribution, "ops": [
            {k: (round(v, 4) if isinstance(v, float) else v)
             for k, v in r.items() if k not in ("problems",)}
            for r in ops]}))

    if args.trace:
        metrics = layer_metrics(ctx, tracer, traced, ops, session_s,
                                attribution)
        for k, unit in LAYER_UNITS.items():
            print(f"{k:<32} {metrics[k]:>14.6g} {unit}")
        print("# self time per traced op (span less its child spans): "
              + ", ".join(f"{k} {v / len(traced):.4f} s" for k, v in
                          sorted(tracer.self_times().items())))
        units = LAYER_UNITS
    else:
        metrics, units = e2e, UNITS
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(every),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units}}))
    return 0


def layer_metrics(ctx, tracer, traced, ops, session_s, attribution):
    """Per-op means of each layer's traced time and counters, plus the
    untraced run's runtime counters and the tracing overhead."""
    n = len(traced)
    spans = tracer.spans
    inclusive: dict[str, float] = {}
    for s in spans:
        inclusive[s["name"]] = (inclusive.get(s["name"], 0.0)
                                + s["end"] - s["start"])
    c = ctx.counts
    m = dict.fromkeys(LAYER_UNITS, 0.0)
    m["session.start_s"] = session_s
    for layer, key in (("sources", "sources.scan_s"), ("clean", "clean.s"),
                       ("match", "match.s"), ("marts", "marts.s"),
                       ("sinks", "sinks.s")):
        m[key] = inclusive.get(layer, 0.0) / n
    for p in ("build", "plan", "exec"):
        m[f"plans.{p}_s"] = inclusive.get(f"plans.{p}", 0.0) / n
    records = c.get("sources.records", 0)
    m["sources.records"] = records / n
    m["clean.kept_frac"] = c.get("clean.kept", 0) / records if records else 0
    m["match.candidate_pairs"] = c.get("match.candidate_pairs", 0) / n
    matches = c.get("match.matches", 0)
    m["match.pairs_per_match"] = (c.get("match.candidate_pairs", 0) / matches
                                  if matches else 0.0)
    m["match.llm_rows"] = c.get("match.llm_rows", 0) / n
    m["match.arrow_rows"] = c.get("match.arrow_rows", 0) / n
    m["sinks.bytes_written"] = c.get("sinks.bytes_written", 0) / n
    m["sinks.table_bytes"] = c.get("sinks.table_bytes", 0) / n
    batch = c.get("sinks.batch_bytes", 0)
    m["sinks.write_amp"] = c.get("sinks.bytes_written", 0) / batch \
        if batch else 0.0
    m["staging.cached_mb"] = c.get("staging.cached_mb", 0) / n
    for k, src in (("spark.jobs", "jobs"), ("spark.stages", "stages"),
                   ("spark.tasks", "tasks"),
                   ("spark.tasks_failed", "tasks_failed"),
                   ("spark.shuffle_write_mb", "shuffle_write_mb"),
                   ("spark.spill_mb", "spill_mb"),
                   ("jvm.cpu_s", "jvm_cpu_s"), ("jvm.gc_s", "gc_s"),
                   ("jvm.jit_s", "jit_s"), ("py.cpu_s", "py_cpu_s"),
                   ("host.steal_frac", "steal_frac")):
        m[k] = attribution[src]
    m["trace.overhead_s"] = (sum(r["wall_s"] for r in traced)
                             - sum(r["wall_s"] for r in ops))
    return m


def report(args) -> int:
    """Each workload in ``--report`` fresh processes, one seed each."""
    names = [args.workload] if args.workload else list(WORKLOADS)
    for name in names:
        runs = []
        for seed in range(1, args.report + 1):
            cmd = [sys.executable, str(Path(__file__)), "--workload", name,
                   "--seed", str(seed), "--seconds", str(args.seconds),
                   "--trace", "0"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True,
                               text=True, timeout=300)
            lines = p.stdout.strip().splitlines()
            if p.returncode or not lines:
                print(f"{name} seed {seed}: rc {p.returncode}\n"
                      f"{p.stderr[-2000:]}")
                continue
            attr = next(json.loads(ln[len("# attribution "):])
                        for ln in lines if ln.startswith("# attribution "))
            runs.append((seed, json.loads(lines[-1]), attr))
            for ln in [x for x in p.stderr.splitlines()
                       if "FAILED CHECK" in x][:3]:
                print(f"{name} seed {seed}: {ln[:600]}")
        print(f"\n== {name}: {len(runs)} runs of {args.seconds} s")
        print(f"{'metric':<18}{'median':>12}{'q1':>12}{'q3':>12}"
              f"{'iqr/med':>9}{'min':>12}{'max':>12}")
        for k in END_TO_END:
            vals = [r[1]["metrics"][k]["value"] for r in runs]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else 0.0
            print(f"{k:<18}{med:>12.5g}{q1:>12.5g}{q3:>12.5g}"
                  f"{spread:>9.3f}{min(vals):>12.5g}{max(vals):>12.5g}")
        print("per run (sums over timed ops): seed ok run_s jvm_cpu_s "
              "py_cpu_s gc_s jit_s steal_frac setup_s | op wall_s")
        for seed, res, attr in runs:
            a = attr["run"]
            print(f"  {seed:>3} {str(res['correct']):>5} "
                  f"{res['metrics']['run_s']['value']:>7.2f} "
                  f"{a['jvm_cpu_s']:>8.2f} {a['py_cpu_s']:>8.2f} "
                  f"{a['gc_s']:>6.2f} {a['jit_s']:>6.2f} "
                  f"{a['steal_frac']:>7.4f} "
                  f"{res['metrics']['setup_s']['value']:>7.2f} | "
                  + " ".join(f"{o['wall_s']:.2f}" for o in attr["ops"]))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", type=int, default=0, metavar="N")
    args = ap.parse_args(argv)
    if args.report:
        return report(args)
    if not args.workload:
        ap.error("--workload is required")
    return bench(args)


if __name__ == "__main__":
    sys.exit(main())
