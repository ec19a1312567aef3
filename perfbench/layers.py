"""Traced run: per-layer figures taken from outside the package.

Three sources, none of which changes the program under test:

* stage-prefix probes — each public function of the pipeline is materialized
  into Spark's ``noop`` sink on its own, and a layer's figure is the
  difference between two nested prefixes (wall and process-tree CPU);
* kernel timings — the ``formats`` public functions, single-threaded in this
  process, on the workload's own payloads;
* Spark's event log — per-stage executor CPU, shuffle bytes, GC and task
  times, attributed to probes through job groups, and the physical plans
  that show whether each probe ran the plan the call ran.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass

import procstat

MEDIA = ("pdf", "image")


# --------------------------------------------------------------------------
# stage-prefix probes
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class Sample:
    wall_s: float
    cpu: procstat.CpuSplit


def measure(spark, group: str, action) -> Sample:
    """Run ``action`` under Spark job group ``group``; wall and tree CPU."""
    spark.sparkContext.setJobGroup(group, group)
    c0, t0 = procstat.cpu_split(), time.perf_counter()
    try:
        action()
    finally:
        wall = time.perf_counter() - t0
        cpu = procstat.cpu_split() - c0
        spark.sparkContext.setJobGroup("", "")
    return Sample(wall, cpu)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def probe_actions(spark, wh_root: str, out_root: str, work: str,
                  broadcast: bool, chunk_size: int | None,
                  query: str | None) -> dict:
    """name → zero-argument action materializing one stage prefix.

    The extraction prefixes nest: scan ⊂ media ⊂ media+html ⊂ spans ⊂
    documents ⊂ sink, each built from public functions over a kind-filtered
    input.  The media branch comes first because it holds the plan's fixed
    costs (exchange, broadcast, Python tasks), which therefore land in its
    own difference; ``media_join`` is a side probe of the media branch
    without its UDF.  ``sink`` is ``run_extraction``'s chunk loop without
    the resume lookup and the analysis: every chunk extracted and written
    as the call writes it (dynamic partition overwrite with the per-bucket
    counters, then the marker rows).  ``analyze`` reads ``out_root``, the
    output of a real call.  ``check_plans`` verifies afterwards that these
    probes ran the plans the call ran."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from resume_ocr_spark import pipeline, warehouse
    from resume_ocr_spark.operators import analyze, extract

    def frames(buckets=None):
        docs = warehouse.read_table(spark, wh_root, "documents_raw",
                                    buckets=buckets).select("doc_id", "spans")
        blobs = warehouse.read_table(spark, wh_root, "media_blobs")
        return docs, blobs, extract.explode_spans(docs)

    def spans_of(*kinds):
        _, blobs, spans = frames()
        if kinds:
            spans = spans.filter(F.col("kind").isin(*kinds))
        return extract.extract_spans(spans, blobs, broadcast)

    def media_join():
        # the plan extract_spans builds for this broadcast choice, up to the
        # media UDF's input
        _, blobs, spans = frames()
        n = spark.sparkContext.defaultParallelism * 2
        media = spans.filter(F.col("kind").isin(*MEDIA)).select(
            "doc_id", "offset", "kind", "media_ref")
        payloads = blobs.select("media_ref", "payload")
        if broadcast:
            joined = media.repartition(n, "doc_id", "offset").join(
                F.broadcast(payloads), "media_ref", "left")
        else:
            joined = media.join(payloads, "media_ref", "left").repartition(
                n, "doc_id", "offset")
        return joined.select("doc_id", "offset", "kind", "media_ref",
                             "payload")

    def documents():
        docs, blobs, _ = frames()
        return extract.extract_documents(docs, blobs, broadcast)

    sinks = iter(range(1 << 30))

    def sink():
        root = os.path.join(work, f"sink{next(sinks)}")
        out = os.path.join(root, "documents_extracted", "data")
        n_buckets = warehouse.manifest(wh_root, "documents_raw")["buckets"]
        buckets = list(range(n_buckets))
        step = chunk_size or n_buckets
        for i in range(0, n_buckets, step):
            chunk = buckets[i:i + step]
            docs, blobs, _ = frames(chunk)
            extracted = extract.extract_documents(docs, blobs, broadcast) \
                .withColumn("bucket",
                            warehouse.bucket_col("doc_id", n_buckets))
            obs = Observation(f"probe_chunk_{i}")
            counters = []
            for b in chunk:
                is_b = F.col("bucket") == b
                counters += [
                    F.sum(F.when(is_b, 1).otherwise(0)).alias(f"docs_{b}"),
                    F.sum(F.when(is_b, F.col("ocr_pages")).otherwise(0))
                    .alias(f"pages_{b}"),
                    F.sum(F.when(is_b, F.col("parse_failures")).otherwise(0))
                    .alias(f"fails_{b}")]
            (extracted.observe(obs, *counters).write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("bucket").parquet(out))
            m = obs.get
            pipeline._append_metrics(spark, root, [
                ("probe", b, int(m.get(f"docs_{b}") or 0),
                 int(m.get(f"pages_{b}") or 0),
                 int(m.get(f"fails_{b}") or 0), 0, "complete", 0.0)
                for b in chunk])
        shutil.rmtree(root)

    def analyzed():
        # what run_extraction returns: file listing, schema and plan are
        # the call's work too
        out = os.path.join(out_root, "documents_extracted", "data")
        extracted = spark.read.option("basePath", out).parquet(out)
        return analyze.analyze_documents(extracted, query=query)

    return {
        "scan": lambda: _noop(frames()[2]),
        "media_join": lambda: _noop(media_join()),
        "media": lambda: _noop(spans_of(*MEDIA)),
        "media_html": lambda: _noop(spans_of("html", *MEDIA)),
        "spans": lambda: _noop(spans_of()),
        "documents": lambda: _noop(documents()),
        "sink": sink,
        "analyze": lambda: _noop(analyzed()),
    }


def median_sample(samples: list[Sample]) -> Sample:
    return Sample(
        statistics.median(s.wall_s for s in samples),
        procstat.CpuSplit(
            statistics.median(s.cpu.jvm for s in samples),
            statistics.median(s.cpu.pyworker for s in samples),
            statistics.median(s.cpu.driver for s in samples),
            statistics.median(s.cpu.jit for s in samples)))


# each layer: (outer prefix, inner prefix); its figure is outer − inner
NESTED = {
    "extract.media_branch_s": ("media", "scan"),
    "extract.html_branch_s": ("media_html", "media"),
    "extract.text_branch_s": ("spans", "media_html"),
    "extract.reassemble_s": ("documents", "spans"),
    "pipeline.sink_s": ("sink", "documents"),
    "extract.media_join_s": ("media_join", "scan"),
}


def layer_ledger(p: dict[str, Sample], run: Sample, n_chunks: int,
                 kernel_cpu_s: float) -> tuple[dict[str, float], dict]:
    """Per-layer wall seconds as differences of nested probes, and a
    report of what the ledger checks.

    The chain scan ⊂ … ⊂ sink, plus the analyze probe, is the whole call
    rebuilt from public functions, each probe run on its own.  Coverage is
    that chain's CPU (sink + analyze) over the CPU of the real call, both
    without the JIT compiler threads' CPU: it reads 1 only when the probes
    together reproduce the call's work.  JIT compilation is left out
    because it falls run by run as the JVM warms up, whatever the layers
    do.  A layer whose difference is negative, i.e. whose outer probe ran
    faster than the inner one, is listed in the report."""
    def w(name):
        return p[name].wall_s

    def c(name):
        return p[name].cpu.work

    out = {k: w(a) - w(b) for k, (a, b) in NESTED.items()}
    out.update({
        "warehouse.scan_explode_s": w("scan"),
        "extract.media_handoff_s":
            c("media") - c("media_join") - kernel_cpu_s,
        "pipeline.chunk_overhead_s":
            out["pipeline.sink_s"] / max(1, n_chunks),
        "analyze.analyze_s": w("analyze"),
        "trace.layer_coverage": (c("sink") + c("analyze")) / run.cpu.work,
    })
    check = {
        "coverage_wall": (w("sink") + w("analyze")) / run.wall_s,
        "coverage_cpu_with_jit": (p["sink"].cpu.total + p["analyze"].cpu.total)
        / run.cpu.total,
        "negative_layers": sorted(
            k for k in (*NESTED, "extract.media_handoff_s") if out[k] < 0),
    }
    return out, check


# --------------------------------------------------------------------------
# formats kernels, single-threaded in this process
# --------------------------------------------------------------------------

KERNELS = ("inflate", "decode", "deskew", "median3", "threshold",
           "grid_match", "pdf_text", "pdf_raster", "html_strip")


class _Clock:
    """Per-kernel CPU totals and call counts (thread CPU time)."""

    def __init__(self) -> None:
        self.cpu = {k: 0.0 for k in KERNELS}
        self.calls = {k: 0 for k in KERNELS}

    def add(self, kernel: str, cpu_s: float) -> None:
        self.cpu[kernel] += cpu_s
        self.calls[kernel] += 1

    def time(self, kernel: str, fn, *args):
        t0 = time.thread_time()
        try:
            return fn(*args)
        finally:
            self.add(kernel, time.thread_time() - t0)


def _ocr_page(clock: _Clock, raw: bytes) -> float:
    """One OCR page: ``ocr_image``'s CPU (returned), and its breakdown into
    decode, the three ``preprocess`` steps and the grid match (the rest)."""
    from resume_ocr_spark.formats import imagecodec as ic

    t0 = time.thread_time()
    try:
        ic.ocr_image(raw)
    except ic.ImageDecodeError:  # includes OcrConfidenceError
        pass
    ocr = time.thread_time() - t0
    parts, x = 0.0, raw
    try:
        for kernel, fn in (("decode", ic.decode_image), ("deskew", ic.deskew),
                           ("median3", ic.median3),
                           ("threshold", ic.adaptive_threshold)):
            t0 = time.thread_time()
            x = fn(x)
            dt = time.thread_time() - t0
            clock.add(kernel, dt)
            parts += dt
    except ic.ImageDecodeError:
        return ocr
    clock.add("grid_match", ocr - parts)
    return ocr


def time_kernels(docs: list[dict], blobs: list[dict], max_spans: int
                 ) -> dict[str, float]:
    """CPU-ms per call of each ``formats`` kernel on a stride sample of the
    workload's spans, and the estimated kernel CPU of all the workload's
    media spans (for the handoff figure)."""
    from resume_ocr_spark.config import MAX_FILE_SIZE, PDF_TEXT_THRESHOLD
    from resume_ocr_spark.formats import htmlcodec, imagecodec, pdfcodec

    payload = {b["media_ref"]: b["payload"] for b in blobs}
    spans = [s for d in docs for s in d["spans"]]
    media = [s for s in spans
             if s["kind"] in MEDIA and payload.get(s["media_ref"]) is not None]
    html = [s for s in spans if s["kind"] == "html" and (s["text"] or "").strip()]

    def stride(xs):
        return xs[::max(1, -(-len(xs) // max_spans))]

    # the first OCR call in a process builds the glyph prototypes; the
    # pipeline's workers did that in their warm-up, so do it here untimed
    imagecodec.ocr_image(imagecodec.render_text_image("a"))
    clock = _Clock()
    span_cpu = 0.0  # the production path's CPU over the sampled media spans
    for s in stride(media):
        t0 = time.thread_time()
        try:
            raw = clock.time("inflate", imagecodec.decompress_payload,
                             payload[s["media_ref"]])
        except imagecodec.ImageDecodeError:
            raw = payload[s["media_ref"]]
        path = time.thread_time() - t0
        if len(raw) > MAX_FILE_SIZE:
            span_cpu += path
            continue
        if s["kind"] == "image":
            path += _ocr_page(clock, raw)
        else:
            t0 = time.thread_time()
            try:
                text = clock.time("pdf_text", pdfcodec.extract_text, raw)
                pages = [] if len(text.strip()) > PDF_TEXT_THRESHOLD else \
                    clock.time("pdf_raster", pdfcodec.extract_page_images, raw)
            except pdfcodec.PdfParseError:
                pages = []
            path += time.thread_time() - t0
            for img in pages:
                path += _ocr_page(clock, img)
        span_cpu += path
    for s in stride(html):
        clock.time("html_strip", htmlcodec.strip_boilerplate, s["text"])

    sampled = len(stride(media))
    out = {f"formats.{k}_ms": 1000.0 * clock.cpu[k] / clock.calls[k]
           if clock.calls[k] else 0.0 for k in KERNELS}
    out["kernel_cpu_s"] = span_cpu * len(media) / sampled if sampled else 0.0
    out["kernel_spans_sampled"] = sampled
    return out


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

def _events(log_dir: str):
    paths = sorted(glob.glob(os.path.join(log_dir, "*")))
    if not paths:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    with open(paths[-1]) as fh:
        for line in fh:
            yield json.loads(line)


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: executor CPU, shuffle write bytes, GC, per-stage task
    durations, and the initial physical plan of each SQL execution."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    plans: dict[int, dict] = {}
    groups: dict[str, dict] = {}

    def group_of(name):
        return groups.setdefault(name, {
            "executor_cpu_s": 0.0, "shuffle_write_mb": 0.0, "gc_s": 0.0,
            "stages": {}, "plans": []})

    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
            eid = props.get("spark.sql.execution.id")
            if eid is not None and int(eid) not in exec_group:
                exec_group[int(eid)] = group
                if int(eid) in plans:
                    group_of(group)["plans"].append(plans[int(eid)])
        elif kind.endswith("SQLExecutionStart"):
            plans[ev["executionId"]] = ev["sparkPlanInfo"]
        elif kind == "SparkListenerTaskEnd":
            g = group_of(stage_group.get(ev["Stage ID"], ""))
            m = ev.get("Task Metrics") or {}
            info = ev["Task Info"]
            g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
            dur = (info["Finish Time"] - info["Launch Time"]) / 1e3
            g["stages"].setdefault(ev["Stage ID"], []).append(dur)
    return groups


# --------------------------------------------------------------------------
# plan check: did the probes run the plans the call ran?
# --------------------------------------------------------------------------

# plan nodes that carry no work of their own or differ only by the sink
_WRAPPERS = ("Project", "Filter", "AdaptiveSparkPlan", "InputAdapter",
             "ColumnarToRow", "WholeStageCodegen")
_SINK = ("OverwriteByExpression", "Execute InsertIntoHadoopFsRelationCommand",
         "WriteFiles", "Sort", "CollectMetrics")


def _nodes(plan: dict):
    yield plan
    for child in plan.get("children", ()):
        yield from _nodes(child)


def plan_signature(plan: dict, drop=_WRAPPERS, keep=None) -> list[str]:
    """The plan's operators as a sorted list of node names, without
    ``drop`` (name prefixes), or only those containing one of ``keep``."""
    names = [n["nodeName"].strip() for n in _nodes(plan)]
    if keep is not None:
        return sorted(x for x in names if any(k in x for k in keep))
    return sorted(x for x in names if not x.startswith(tuple(drop)))


def _extraction_writes(plans: list[dict]) -> list[dict]:
    """The plans that write the extracted documents table."""
    return [p for p in plans
            if any(n["nodeName"].startswith("Execute InsertInto")
                   and "documents_extracted" in n.get("simpleString", "")
                   for n in _nodes(p))]


def check_plans(groups: dict[str, dict], call_group: str) -> dict:
    """Compare probe plans with the call's, operator by operator.

    * each chunk the call wrote ≡ each chunk the ``sink`` probe wrote;
    * the call's chunks without their sink ≡ the ``documents`` probe (this
      also checks the probes' broadcast choice against the call's);
    * the joins and exchanges of ``media_join`` ≡ those of ``media``.

    Returns {"ok": bool, "mismatches": [...], ...}."""
    def plans(group):
        return groups.get(group, {}).get("plans", [])

    def distinct(sigs):
        return sorted({tuple(s) for s in sigs})

    call = _extraction_writes(plans(call_group))
    sink = _extraction_writes(plans("probe:sink"))
    docs = plans("probe:documents")
    joins = ("Join", "Exchange")
    pairs = {
        "sink": (distinct(plan_signature(p) for p in call),
                 distinct(plan_signature(p) for p in sink)),
        "documents": (
            distinct(plan_signature(p, _WRAPPERS + _SINK) for p in call),
            distinct(plan_signature(p, _WRAPPERS + _SINK) for p in docs)),
        "media_join": (
            distinct(plan_signature(p, keep=joins)
                     for p in plans("probe:media")),
            distinct(plan_signature(p, keep=joins)
                     for p in plans("probe:media_join"))),
    }
    mismatches = [name for name, (a, b) in pairs.items()
                  if not a or len(a) != 1 or a != b]
    return {"ok": not mismatches, "mismatches": mismatches,
            "call_extraction_writes": len(call),
            "broadcast_join": any("BroadcastHashJoin" in sig
                                  for sig in pairs["documents"][0])}


def task_skew(group: dict) -> float:
    """max ÷ median task time in the group's longest stage (by summed task
    time) — for the media probe that is the stage running the media UDF."""
    stages = [d for d in group["stages"].values() if d]
    if not stages:
        return 0.0
    longest = max(stages, key=sum)
    med = statistics.median(longest)
    return max(longest) / med if med > 0 else 0.0
