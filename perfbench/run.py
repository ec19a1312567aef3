#!/usr/bin/env python3
"""Extraction benchmark: the shipped ``pipeline.run_extraction`` job, timed.

    python3 perfbench/run.py --workload mixed_ranked --seed 1 --seconds 15 \\
        --trace 0

Run from the repository root.  One run builds the workload's warehouse from
``--seed``, warms the job up, then calls ``run_extraction`` back to back for
``--seconds`` seconds, materializing the returned analyzed frame each time,
and checks the output against ``oracle.run_pipeline`` (see gate.py).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` is a separate
traced run that prints the per-layer ledger (see layers.py).  The last line
of standard output is one JSON object with keys ``correct``, ``attempted``,
``failed`` and ``metrics``; the line before it is a JSON report with the
provenance (nproc, seed, commit, host load at each phase boundary), the
sample counts and the gate's details.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

GATE_SAMPLE_DOCS = 300  # oracle stride sample (every doc in ranked mode)
KERNEL_SPANS = 60       # media and html spans timed per kernel pass
MIN_CALLS = 1           # timed calls per run, even past --seconds

END_TO_END = {
    "docs_per_s": "docs/s",
    "cpu_s_per_kdoc": "s/kdoc",
    "py_worker_peak_rss_mb": "MB",
    "span_match_rate": "ratio",
    "analysis_match_rate": "ratio",
    "setup_s": "s",
}
PER_LAYER = {
    "warehouse.scan_explode_s": "s",
    "extract.text_branch_s": "s",
    "extract.html_branch_s": "s",
    "extract.media_join_s": "s",
    "extract.media_branch_s": "s",
    "extract.media_handoff_s": "s",
    "extract.reassemble_s": "s",
    "pipeline.sink_s": "s",
    "pipeline.chunk_overhead_s": "s",
    "analyze.analyze_s": "s",
    **{f"formats.{k}_ms": "ms" for k in (
        "inflate", "decode", "deskew", "median3", "threshold", "grid_match",
        "pdf_text", "pdf_raster", "html_strip")},
    "formats.ocr_pages": "count",
    "formats.pdf_direct_ratio": "ratio",
    "extract.media_spans": "count",
    "extract.payload_mb": "MB",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.gc_s": "s",
    "spark.media_stage_task_skew": "ratio",
    "proc.jvm_cpu_s": "s",
    "proc.pyworker_cpu_s": "s",
    "trace.layer_coverage": "ratio",
    "trace.overhead_ratio": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=None,
                   help="override the workload's generated doc count "
                        "(small values for the benchmark's own tests)")
    return p.parse_args(argv)


# --------------------------------------------------------------------------
# provenance
# --------------------------------------------------------------------------

class LoadLog:
    """Host load at each phase boundary: 1/5/15-min loadavg, and the CPU
    time the hypervisor gave to other guests (steal) since the last mark.
    Load inside the guest is mostly the benchmark's own; steal is the
    co-tenant signal, so a reading taken on a busy host explains itself."""

    def __init__(self) -> None:
        self.samples: list[dict] = []
        self._steal = self._steal_s()

    @staticmethod
    def _steal_s() -> float:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")

    def mark(self, phase: str) -> None:
        l1, l5, l15 = os.getloadavg()
        steal = self._steal_s()
        self.samples.append({"phase": phase, "ts": round(time.time(), 2),
                             "load1": l1, "load5": l5, "load15": l15,
                             "steal_s": steal - self._steal})
        self._steal = steal


def git_commit() -> str | None:
    """HEAD of the checkout, read from .git directly (no parent lookup)."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as fh:
            head = fh.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        try:
            with open(os.path.join(git, ref)) as fh:
                return fh.read().strip()
        except FileNotFoundError:
            with open(os.path.join(git, "packed-refs")) as fh:
                for line in fh:
                    if line.rstrip().endswith(" " + ref):
                        return line.split()[0]
    except OSError:
        return None
    return None


def source_digest() -> str:
    """sha1 over the package's .py files: identifies the code under test
    where the checkout is not a git repository."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "resume_ocr_spark")
    for dp, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dp, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


# --------------------------------------------------------------------------
# Spark lifetime, confined to a work directory inside the checkout
# --------------------------------------------------------------------------

def configure_env(work: str, event_log_dir: str | None) -> None:
    """Everything Spark, the JVM and Python workers write goes under
    ``work``; the event log is enabled here, from outside the package."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "local")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # the JVM keeps its default (tiered) JIT; these only keep its files in
    # ``work``, after any options the caller set
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}") if o)
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = "file://" + event_log_dir
        confs["spark.eventLog.rolling.enabled"] = "false"
        confs["spark.eventLog.compress"] = "false"
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        shlex.quote(a) for a in args + ["pyspark-shell"])


def start_spark(app: str, cores: int):
    from resume_ocr_spark.session import get_spark

    spark = get_spark(app_name=app, cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _wait_gone(pids: list[int], timeout_s: float) -> None:
    deadline = time.monotonic() + timeout_s
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def shutdown_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for all."""
    import procstat
    from pyspark import SparkContext

    workers = procstat.python_worker_pids()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    _wait_gone(workers, 10)


# --------------------------------------------------------------------------
# the timed call
# --------------------------------------------------------------------------

def extraction_call(spark, wh: str, out_root: str, w, query, group: str):
    """One ``run_extraction`` call into a fresh output root, with the
    analyzed frame it returns materialized; returns (frame, sample)."""
    import layers
    from resume_ocr_spark import pipeline

    def call():
        df = pipeline.run_extraction(spark, wh, out_root, "perfbench",
                                     query=query, **w.run_kwargs)
        df.write.format("noop").mode("overwrite").save()
        return df

    frame = []
    sample = layers.measure(spark, group, lambda: frame.append(call()))
    return frame[0], sample


def broadcast_choice(spark, wh: str, w) -> bool:
    """The blob-broadcast decision ``run_extraction`` makes for this input,
    for the probes; the traced run checks it against the call's plan."""
    from resume_ocr_spark.operators import extract

    if w.run_kwargs.get("broadcast_blobs") is not None:
        return w.run_kwargs["broadcast_blobs"]
    blob_dir = os.path.join(wh, "media_blobs", "data")
    size = sum(os.path.getsize(os.path.join(dp, f))
               for dp, _, fs in os.walk(blob_dir) for f in fs)
    return size < extract.blob_broadcast_cutoff(spark)


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------

def run(args, work: str, report: dict) -> dict:
    import gate
    import procstat
    import workloads

    w = workloads.WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    load = LoadLog()
    load.mark("start")
    report.update({
        "workload": w.name, "why": w.why, "seed": args.seed, "nproc": nproc,
        "trace": args.trace, "git_commit": git_commit(),
        "source_digest": source_digest(), "load": load.samples,
        "caveat": gate.CAVEAT,
    })
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    configure_env(work, event_dir)

    # set-up.  The corpus and the oracle's expectation come first: their
    # pools fork, which is unsafe once the JVM and py4j threads exist
    t0 = time.perf_counter()
    docs, blobs = workloads.build_corpus(w, args.seed, nproc, args.docs)
    corpus_s = time.perf_counter() - t0
    query = workloads.job_query(w, args.seed)
    n_docs = len(docs)
    load.mark("corpus_done")
    sample_ids = ({d["doc_id"] for d in docs} if query is not None
                  else gate.stride_sample(docs, GATE_SAMPLE_DOCS))
    expected = gate.oracle_expectation(docs, blobs, query, sample_ids, nproc)
    load.mark("oracle_done")
    t0 = time.perf_counter()
    spark = start_spark(f"perfbench-{w.name}", nproc)
    session_s = time.perf_counter() - t0
    try:
        from resume_ocr_spark import warehouse

        wh = os.path.join(work, "wh")
        t0 = time.perf_counter()
        warehouse.build_warehouse(spark, wh, docs, blobs,
                                  **({"buckets": w.buckets} if w.buckets
                                     else {}))
        build_s = time.perf_counter() - t0
        n_buckets = warehouse.manifest(wh, "documents_raw")["buckets"]
        n_chunks = -(-n_buckets // (w.run_kwargs.get("chunk_size")
                                     or n_buckets))
        # warm-up: one call as timed (JIT, Python workers, imports)
        t0 = time.perf_counter()
        warm_out = os.path.join(work, "warmup")
        warm_df = extraction_call(spark, wh, warm_out, w, query, "warmup")[0]
        # let the JIT finish what the warm-up queued, so that the timed
        # calls do not share the cores with it
        jit_drain_s = procstat.wait_jit_idle()
        warmup_s = time.perf_counter() - t0
        setup_s = session_s + corpus_s + build_s + warmup_s
        load.mark("setup_done")
        report["docs"] = n_docs
        report["setup"] = {"session_s": session_s, "corpus_s": corpus_s,
                           "build_s": build_s, "warmup_s": warmup_s,
                           "jit_drain_s": jit_drain_s}

        if args.trace:
            # the probes and the gate read the warm-up call's output
            last_df = warm_df
            metrics, samples = trace_phase(spark, args, w, wh, warm_out,
                                           query, docs, blobs, n_chunks,
                                           work, report)
        else:
            shutil.rmtree(warm_out)
            samples, last_df, rss = timed_calls(spark, args, w, wh, query,
                                                work)
        load.mark("timed_done")
        report["calls"] = {
            "n": len(samples), "wall_s": [s.wall_s for s in samples],
            "cpu_s": [s.cpu.total for s in samples],
            "jvm_cpu_s": [s.cpu.jvm for s in samples],
            "jit_cpu_s": [s.cpu.jit for s in samples],
            "pyworker_cpu_s": [s.cpu.pyworker for s in samples]}
        if not args.trace:
            report["calls"].update({
                "py_worker_peak_rss_mb": sorted(rss.peaks.values()),
                "py_worker_peak_reset": len(rss.reset)})

        got = gate.collect_rows(last_df)
        res = gate.compare(expected, got, [d["doc_id"] for d in docs])
        load.mark("gate_done")
        report["gate"] = {
            "attempted": res.attempted, "failed": res.failed,
            "sampled": res.sampled, "span_matches": res.span_matches,
            "analysis_matches": res.analysis_matches,
            "unexpected_docs": res.unexpected_docs,
            "missing_docs": res.missing_docs, "failed_examples": res.failures}
        plans_ok = True
        if args.trace:
            output_counts(got, metrics)
            metrics["trace.overhead_ratio"] = untraced_ratio(
                spark, w, wh, query, samples, work, report)
            load.mark("untraced_done")
            # stopping the context completes the event log
            spark.stop()
            plans_ok = engine_metrics(event_dir, len(samples), metrics,
                                      report)
        else:
            metrics = {
                "docs_per_s": n_docs / statistics.median(
                    s.wall_s for s in samples),
                "cpu_s_per_kdoc": 1000 * statistics.median(
                    s.cpu.total for s in samples) / n_docs,
                "py_worker_peak_rss_mb": rss.peak_mb,
                "span_match_rate": res.span_match_rate,
                "analysis_match_rate": res.analysis_match_rate,
                "setup_s": setup_s,
            }
    finally:
        shutdown_spark(spark)
    units = PER_LAYER if args.trace else END_TO_END
    return {
        "correct": res.failed == 0 and plans_ok,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: _metric(metrics[k], u) for k, u in units.items()},
    }


def timed_calls(spark, args, w, wh, query, work):
    """``run_extraction`` calls back to back for ``--seconds`` (at least
    MIN_CALLS), each into a fresh output root; returns the samples, the
    last call's analyzed frame and the Python workers' RSS watch."""
    import procstat

    samples, last_out, last_df = [], None, None
    t_start = time.perf_counter()
    with procstat.RssWatch() as rss:
        while (len(samples) < MIN_CALLS
               or time.perf_counter() - t_start < args.seconds):
            out = os.path.join(work, f"out{len(samples)}")
            last_df, s = extraction_call(spark, wh, out, w, query,
                                         "run_extraction")
            samples.append(s)
            if last_out:
                shutil.rmtree(last_out)
            last_out = out
    return samples, last_df, rss


def trace_phase(spark, args, w, wh, warm_out, query, docs, blobs, n_chunks,
                work, report):
    """An untimed round of the probes, then rounds of one
    ``run_extraction`` call followed by every probe for ``--seconds`` (at
    least one round), then the kernel pass.  Calls and probes alternate so
    that both run at about the same JVM age.  The analyze probe reads
    ``warm_out``, the warm-up call's output.  Returns the per-layer metrics
    known before the event log, and the call samples."""
    import layers

    actions = layers.probe_actions(
        spark, wh, warm_out, work, broadcast_choice(spark, wh, w),
        w.run_kwargs.get("chunk_size"), query)
    # untimed: after a single call the JIT is still compiling the job's
    # code, and each probe is a new plan whose first run pays code
    # generation; the probes run that code, so the call after them is warm
    for action in actions.values():
        layers.measure(spark, "probe-warmup", action)
    samples, rounds = [], {k: [] for k in actions}
    t_start = time.perf_counter()
    while not samples or time.perf_counter() - t_start < args.seconds:
        out = os.path.join(work, f"out{len(samples)}")
        samples.append(extraction_call(spark, wh, out, w, query,
                                       "run_extraction")[1])
        shutil.rmtree(out)
        for name, action in actions.items():
            rounds[name].append(layers.measure(spark, f"probe:{name}", action))
    probes = {k: layers.median_sample(v) for k, v in rounds.items()}
    run = layers.median_sample(samples)
    kernels = layers.time_kernels(docs, blobs, KERNEL_SPANS)
    kernel_cpu_s = kernels.pop("kernel_cpu_s")
    metrics, check = layers.layer_ledger(probes, run, n_chunks, kernel_cpu_s)
    report["trace"] = {
        "rounds": len(samples),
        "probes": {k: {"wall_s": v.wall_s, "cpu_s": v.cpu.total,
                       "jit_cpu_s": v.cpu.jit}
                   for k, v in probes.items()},
        "call": {"wall_s": run.wall_s, "cpu_s": run.cpu.total,
                 "jit_cpu_s": run.cpu.jit},
        "kernel_spans_sampled": kernels.pop("kernel_spans_sampled"),
        "kernel_cpu_s": kernel_cpu_s,
        **check,
    }
    metrics.update(kernels)
    metrics["proc.jvm_cpu_s"] = run.cpu.jvm
    metrics["proc.pyworker_cpu_s"] = run.cpu.pyworker
    payload = {b["media_ref"]: len(b["payload"]) for b in blobs}
    media = [s for d in docs for s in d["spans"] if s["kind"] in layers.MEDIA]
    metrics["extract.media_spans"] = len(media)
    metrics["extract.payload_mb"] = sum(
        payload.get(s["media_ref"], 0) for s in media) / 2**20
    return metrics, samples


def output_counts(got: dict, metrics: dict) -> None:
    """OCR pages and the PDF direct-text ratio, from the job's own output."""
    spans = [s for r in got.values() for s in r["spans"]]
    pdfs = [s for s in spans if s["kind"] == "pdf"]
    metrics["formats.ocr_pages"] = sum(s["ocr_pages"] or 0 for s in spans)
    direct = sum(1 for s in pdfs if s["error"] is None and not s["ocr_pages"])
    metrics["formats.pdf_direct_ratio"] = direct / len(pdfs) if pdfs else 0.0


def engine_metrics(event_dir: str, n_runs: int, metrics: dict,
                   report: dict) -> bool:
    """Event-log figures per call, and the plan check; False when a probe
    did not run the plan the call ran."""
    import layers

    groups = layers.parse_event_log(event_dir)
    run = groups.get("run_extraction", {})
    metrics["spark.executor_cpu_s"] = run.get("executor_cpu_s", 0.0) / n_runs
    metrics["spark.shuffle_write_mb"] = run.get("shuffle_write_mb", 0.0) / n_runs
    metrics["spark.gc_s"] = run.get("gc_s", 0.0) / n_runs
    media = groups.get("probe:media")
    metrics["spark.media_stage_task_skew"] = (
        layers.task_skew(media) if media else 0.0)
    check = layers.check_plans(groups, "run_extraction")
    report["trace"]["plan_check"] = check
    if not check["ok"]:
        print(f"perfbench: probe plans differ from the call's: "
              f"{check['mismatches']}", file=sys.stderr)
    return check["ok"]


def untraced_ratio(spark, w, wh, query, samples, work, report) -> float:
    """Traced median call wall ÷ the wall of one more call made with the
    event log's listener taken off Spark's listener bus."""
    traced_walls = [s.wall_s for s in samples]
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().removeListener(sc.eventLogger().get())
    walls = [extraction_call(spark, wh, os.path.join(work, "u0"), w, query,
                             "untraced")[1].wall_s]
    report["trace"]["untraced_wall_s"] = walls
    report["trace"]["traced_wall_s"] = traced_walls
    return statistics.median(traced_walls) / statistics.median(walls)


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    if not os.path.isdir(os.path.join(ROOT, "resume_ocr_spark")):
        print("perfbench: the resume_ocr_spark package is not next to "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(work)
    report: dict = {}
    try:
        result = run(args, work, report)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
