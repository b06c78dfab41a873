"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  ``--trace 0`` measures the end-to-end
metrics: after an untimed build of WARMUP_DOCS docs, it sets up (builds the
workload's index) SETUP_REPEATS times, reports the median, then runs the
workload's timed pass.  ``--trace 1``
runs the same calls twice in one JVM, once untraced and once with the Spark
event log on and one job group per call, and reduces the log to the
per-layer metrics.  Metric names and units come from BENCHMARK.json; the
workloads' sizes and mixes from perfbench/workloads.json.

A per-metric report (value, samples, median, tail, n) goes to stderr; the
last stdout line is the JSON result.  Scratch files live under
.perfbench_work/ in the repository root and are removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
BENCH = REPO / "perfbench"
SETUP_REPEATS = 2
WARMUP_DOCS = 40


def _setup_env(work: Path, driver_memory: str) -> None:
    """Process environment for the JVM and its Python workers; must run
    before pyspark is imported."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_DRIVER_MEMORY"] = driver_memory
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(REPO)] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    import tempfile

    tempfile.tempdir = None
    if str(REPO) not in sys.path:
        sys.path.insert(0, str(REPO))


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def run_e2e(wl, seconds: float, work: Path) -> tuple[dict, dict]:
    from perfbench.harness import Spans, median, start_spark

    spark, _ = start_spark(work)
    # an untimed build of the corpus's first docs pays the JVM's warm-up
    # (class loading, code generation, Python worker start) before the
    # timed set-ups
    wl.setup(spark, wl.corpus_df(spark, WARMUP_DOCS), work / "warmup")
    shutil.rmtree(work / "warmup")
    corpus = wl.corpus_df(spark)
    setups, root = Spans(), None
    for r in range(SETUP_REPEATS):
        prev, root = root, work / f"index{r}"
        with setups.span("setup"):
            index = wl.setup(spark, corpus, root)
        if prev is not None:
            shutil.rmtree(prev)
    index_bytes = index.index_size_bytes()
    spans = Spans()
    units = wl.run_pass(spark, root, spans, seconds=seconds)
    spark.stop()
    walls = [c.wall_s for c in setups.calls]
    e2e = wl.e2e(spans, walls)
    e2e["setup_s"] = (median(walls), walls)
    e2e["index_bytes_per_text_byte"] = (index_bytes / wl.text_bytes, [])
    info = {"timed_units": units, "calls": setups.calls + spans.calls}
    return {k: v[0] for k, v in e2e.items()}, {"samples": e2e, **info}


def _codec_rates(root: Path) -> dict[str, float]:
    """Single-thread driver MB/s of the codec on the index's largest blobs
    (median of five passes)."""
    import pyarrow.parquet as pq

    from full_text_index_spark.codec import (
        decode_gaps,
        varbyte_decode,
        varbyte_encode,
    )
    from perfbench.harness import median

    t = pq.read_table(root / "postings", columns=["doc_blob", "tf_blob"])
    docs = sorted(t.column("doc_blob").to_pylist(), key=len, reverse=True)[:256]
    tfs = sorted(t.column("tf_blob").to_pylist(), key=len, reverse=True)[:256]
    tf_vals = [varbyte_decode(b) for b in tfs]

    def rate(fn, items, nbytes):
        times = []
        for _ in range(5):
            t0 = time.perf_counter()
            for x in items:
                fn(x)
            times.append(time.perf_counter() - t0)
        return nbytes / 1e6 / median(times)

    return {
        "codec.decode_gaps_mb_per_s": rate(decode_gaps, docs,
                                           sum(map(len, docs))),
        "codec.varbyte_decode_mb_per_s": rate(varbyte_decode, tfs,
                                              sum(map(len, tfs))),
        "codec.varbyte_encode_mb_per_s": rate(varbyte_encode, tf_vals,
                                              sum(map(len, tfs))),
    }


def _trace_half(wl, spark, root: Path, pre, timed, *, seconds, units):
    """One half of a traced run: tokenizer jobs, the index build, opens,
    then the workload's timed units with the plan diagnostics on.  Both
    halves make exactly these calls, so their difference is the event log.
    Returns (units run, facts about the built index)."""
    from pyspark.sql import functions as F

    from full_text_index_spark.index import InvertedIndex
    from full_text_index_spark.tokenizer import tokens_col

    corpus = wl.corpus_df(spark)
    n_tokens = 0
    for _ in range(3):
        with pre.span("tokenizer.tokens"):
            n_tokens = corpus.select(
                F.sum(F.size(tokens_col("text")))).first()[0]
    with pre.span("build"):
        wl.setup(spark, corpus, root)
    opens = []
    for _ in range(5):
        t0 = time.perf_counter()
        index = InvertedIndex.open(spark, str(root))
        opens.append(time.perf_counter() - t0)
    facts = {"n_tokens": n_tokens, "opens": opens,
             "index_bytes": index.index_size_bytes()}
    units = wl.run_pass(spark, root, timed, seconds=seconds, units=units,
                        diagnostics=True)
    return units, facts


def run_trace(wl, seconds: float, work: Path) -> tuple[dict, dict]:
    from perfbench import eventlog
    from perfbench.harness import (
        PeakRss,
        Spans,
        jvm_pid,
        median,
        start_spark,
    )

    # the second half runs in a warmer JVM; alternating which half is
    # traced by seed parity keeps that out of the median overhead
    order = (True, False) if wl.seed % 2 else (False, True)
    log_dir = work / "eventlog"
    spark, session_s = start_spark(work, event_log=log_dir if order[0] else None)
    units, halves = None, {}
    with PeakRss(jvm_pid()) as rss:
        for traced in order:
            if spark is None:
                spark, _ = start_spark(work,
                                       event_log=log_dir if traced else None)
            sc = spark.sparkContext if traced else None
            pre, timed = Spans(sc), Spans(sc)
            root = work / ("index_traced" if traced else "index_plain")
            units, facts = _trace_half(wl, spark, root, pre, timed,
                                       seconds=seconds, units=units)
            spark.stop()
            spark = None
            if units == 0:
                raise RuntimeError("a traced-run half ran no timed unit")
            halves[traced] = (root, pre, timed, facts)

    root, pre, traced_spans, facts = halves[True]
    with open(root / "meta.json") as fh:
        phases = json.load(fh)["phase_seconds"]
    logs = list(log_dir.iterdir())
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    events = eventlog.read_events(logs[0])
    reduced = eventlog.reduce_calls(events, pre.calls + traced_spans.calls)
    timed = traced_spans.calls
    ops = eventlog.per_op(reduced, pre.calls + timed)
    for name, o in ops.items():
        _log(f"  op {name}: n={o['n']} wall_s={o['wall_s']:.3f} "
             f"jobs={o['jobs']:.0f} job_s={o['job_s']:.3f} "
             f"driver_gap_s={o['driver_gap_s']:.3f} "
             f"exec_run_s={o['exec_run_s']:.3f} "
             f"exec_cpu_s={o['exec_cpu_s']:.3f}")

    def op(name: str, key: str) -> float:
        return float(ops.get(name, {}).get(key, 0.0))

    m: dict[str, float] = {
        "session.get_spark_s": session_s,
        "tokenizer.tokens_per_s":
            facts["n_tokens"] / op("tokenizer.tokens", "wall_s"),
        "build.build_index_s": op("build", "wall_s"),
        "index.open_s": median(facts["opens"]),
        "index.index_size_bytes": facts["index_bytes"],
        **_codec_rates(root),
    }
    for p in ("assign_ids_write_docs", "tokenize_doc_stats",
              "postings_shuffle_pack_write", "term_stats"):
        m[f"build.phase.{p}_s"] = float(phases.get(p, 0.0))
    for key in ("jobs", "exec_cpu_s", "shuffle_write_bytes", "spill_bytes",
                "python_rows_in", "python_bytes_in", "output_bytes"):
        m[f"build.{key}"] = op("build", key)

    q = "query.bm25_topk"
    for key in ("wall_s", "jobs", "tasks", "exec_cpu_s", "python_rows_in",
                "python_bytes_in", "python_run_s", "driver_gap_s",
                "task_max_over_median"):
        m[f"{q}.{key}"] = op(q, key)
    m[f"{q}.shuffle_bytes"] = op(q, "shuffle_write_bytes")
    rows = [c.extra["rows"] for c in timed if c.op == q]
    m[f"{q}.rows_in_per_result"] = (
        op(q, "python_rows_in") / median(rows) if rows and median(rows) else 0.0)
    for key in ("wall_s", "jobs", "driver_gap_s"):
        m[f"{q}_single.{key}"] = op(f"{q}_single", key)
    m["query.extract.wall_s"] = op("query.extract", "wall_s")

    for kind in ("count", "locate"):
        for cls in ("rare", "head", "short"):
            m[f"substring.{kind}.{cls}.wall_s"] = op(
                f"substring.{kind}.{cls}", "wall_s")
    for cls in ("rare", "head"):
        m[f"substring.locate.{cls}.jobs"] = op(f"substring.locate.{cls}", "jobs")
    stats = getattr(wl, "plan_stats", {})
    for cls in ("rare", "head"):
        s = stats.get(cls, {})
        m[f"substring.plan.{cls}"] = float(s.get("plan") == "rarest")
        m[f"substring.all_cf.{cls}"] = float(s.get("all_cf", 0))
        m[f"substring.est_rarest_cf.{cls}"] = float(s.get("est_rarest_cf", 0))
    rare = stats.get("rare", {})
    m["substring.n_candidates"] = float(rare.get("n_candidates", 0))
    m["substring.verify_confirmed_frac"] = (
        rare.get("occurrences", 0) / rare["n_candidates"]
        if rare.get("n_candidates") else 0.0)
    m["substring.display_substring.wall_s"] = op(
        "substring.display_substring", "wall_s")
    m["substring.python_rows_in"] = sum(
        reduced[c.call_id]["python_rows_in"] for c in timed
        if c.op.startswith("substring.")) / units

    a = "streaming.append_generation"
    for key in ("wall_s", "jobs", "shuffle_write_bytes", "output_bytes"):
        m[f"{a}.{key}"] = op(a, key)
    appends = [c for c in timed if c.op == a]
    m[f"{a}.files_written"] = (
        median([c.extra["files_written"] for c in appends]) if appends else 0.0)
    m["streaming.bytes_written_per_text_byte"] = (
        sum(c.extra["bytes_written"] for c in appends)
        / sum(c.extra["text_bytes"] for c in appends) if appends else 0.0)
    d = "deletes.delete_docs"
    for key in ("wall_s", "jobs"):
        m[f"{d}.{key}"] = op(d, key)
    deletes = [c for c in timed if c.op == d]
    m[f"{d}.bytes_rewritten"] = (
        median([c.extra["bytes_written"] for c in deletes]) if deletes else 0.0)

    def per_unit(key: str) -> float:
        return sum(reduced[c.call_id][key] for c in timed) / units

    for name, key in (("jobs", "jobs"), ("tasks", "tasks"),
                      ("exec_run_s", "exec_run_s"), ("exec_cpu_s", "exec_cpu_s"),
                      ("gc_s", "gc_s"), ("shuffle_fetch_wait_s", "fetch_wait_s"),
                      ("input_bytes", "input_bytes")):
        m[f"spark.{name}"] = per_unit(key)
    m["proc.jvm_peak_rss_mb"] = rss.jvm_kb / 1024.0
    m["proc.python_worker_peak_rss_mb"] = rss.python_kb / 1024.0
    plain_spans = halves[False][2]
    wall_plain = sum(c.wall_s for c in plain_spans.calls)
    wall_traced = sum(c.wall_s for c in timed)
    m["trace.overhead_frac"] = wall_traced / wall_plain - 1.0
    info = {"timed_units": units, "calls": pre.calls + traced_spans.calls}
    return m, info


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (REPO / "full_text_index_spark" / "__init__.py").is_file():
        _log(f"perfbench: no full_text_index_spark package under {REPO}")
        return 2
    with open(REPO / "BENCHMARK.json") as fh:
        spec = json.load(fh)
    with open(BENCH / "workloads.json") as fh:
        cfg = json.load(fh)
    if args.workload not in cfg or args.workload == "load_model":
        _log(f"perfbench: unknown workload {args.workload!r}")
        return 2
    load = cfg["load_model"]
    work = REPO / ".perfbench_work" / str(os.getpid())
    _setup_env(work, load["driver_memory"])
    _log(f"perfbench: {args.workload} seed={args.seed} trace={args.trace} "
         f"load1={os.getloadavg()[0]:.2f}")

    from perfbench.harness import (
        cpu_times,
        median,
        shutdown_jvm,
        steal_frac,
        tail,
    )
    from perfbench.workloads import WORKLOADS

    t_run, cpu0 = time.perf_counter(), cpu_times()
    try:
        wl = WORKLOADS[args.workload](cfg[args.workload], load, args.seed)
        if args.trace:
            values, info = run_trace(wl, args.seconds, work)
            wanted = spec["per_layer"]
        else:
            values, info = run_e2e(wl, args.seconds, work)
            wanted = spec["end_to_end"]
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass

    metrics = {}
    for mdef in wanted:
        v = values[mdef["name"]]
        metrics[mdef["name"]] = {"value": float(v), "unit": mdef["unit"]}
        line = f"  {mdef['name']:<46} {float(v):>14.6g} {mdef['unit']}"
        samples = info.get("samples", {}).get(mdef["name"], (None, []))[1]
        if samples:
            t = tail(samples)
            line += (f"   n={len(samples)} median={median(samples):.4g}s "
                     + (f"p{t[1]}={t[0]:.4g}s" if t else "tail=n/a(n<20)"))
        _log(line)
    by_op: dict[str, list] = {}
    for c in info.get("calls", []):
        by_op.setdefault(c.op, []).append(c)
    for op_name, calls in by_op.items():
        _log(f"  call {op_name}: n={len(calls)} wall_s/steal="
             + " ".join(f"{c.wall_s:.3f}/{c.steal:.3f}" for c in calls))
    for note in wl.notes:
        _log("  " + note)
    _log(f"perfbench: timed units={info['timed_units']} "
         f"run={time.perf_counter() - t_run:.1f}s "
         f"cpu_steal={steal_frac(cpu0, cpu_times()):.3f} "
         f"attempted={wl.attempted} failed={wl.failed}")
    if wl.attempted == 0:
        raise RuntimeError("no request was attempted")
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
