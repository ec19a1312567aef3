"""The benchmark's own tests: every workload end to end at tiny size, the
output contract, the correctness gate and the traced ledger.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gate  # noqa: E402
import layers  # noqa: E402
import procstat  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

TINY = {"mixed_ranked": 16, "text_chunked": 16, "media_shuffle": 6}


def _run(workload: str, trace: int, cwd: str = ROOT, script: str | None = None):
    cmd = [sys.executable, script or os.path.join(BENCH, "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--docs", str(TINY[workload])]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=600)


def _result(proc) -> tuple[dict, dict]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["report"]


def _declared(section: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def test_benchmark_json_matches_the_metrics_printed():
    assert _declared("end_to_end") == run.END_TO_END
    assert _declared("per_layer") == run.PER_LAYER
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        names = [w["name"] for w in json.load(fh)["workloads"]]
    assert set(names) <= set(workloads.WORKLOADS)


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_every_workload_end_to_end(workload):
    result, report = _result(_run(workload, trace=0))
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    assert result["correct"] is True, report["gate"]
    assert result["failed"] == 0
    assert result["attempted"] == report["docs"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == \
        run.END_TO_END
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["span_match_rate"] == m["analysis_match_rate"] == 1.0
    assert m["docs_per_s"] > 0 and m["cpu_s_per_kdoc"] > 0
    assert m["py_worker_peak_rss_mb"] > 0 and m["setup_s"] > 0
    assert report["seed"] == 7 and report["nproc"] >= 1
    assert report["calls"]["n"] >= run.MIN_CALLS
    assert max(report["calls"]["py_worker_peak_rss_mb"]) == \
        m["py_worker_peak_rss_mb"]
    assert [s["phase"] for s in report["load"]][0] == "start"
    assert "orchestration" in report["caveat"]
    # the run leaves nothing behind in the checkout
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))


def test_traced_run_reports_the_ledger():
    result, report = _result(_run("mixed_ranked", trace=1))
    assert result["correct"] is True, report["gate"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == \
        run.PER_LAYER
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert all(math.isfinite(v) for v in m.values()), m
    assert m["trace.layer_coverage"] > 0
    assert m["trace.overhead_ratio"] > 0
    check = report["trace"]["plan_check"]
    assert check["ok"] and check["call_extraction_writes"] >= 1, check
    assert isinstance(report["trace"]["negative_layers"], list)
    assert m["spark.executor_cpu_s"] > 0
    assert m["proc.jvm_cpu_s"] > 0 and m["proc.pyworker_cpu_s"] > 0
    assert m["extract.media_spans"] > 0 and m["formats.ocr_pages"] > 0
    for k in ("decode", "deskew", "median3", "threshold", "pdf_text",
              "html_strip", "inflate"):
        assert m[f"formats.{k}_ms"] > 0, k
    assert report["trace"]["untraced_wall_s"]


def test_fails_without_the_package(tmp_path):
    """A directory holding only BENCHMARK.json and perfbench/: no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("mixed_ranked", 0, cwd=str(tmp_path),
                script="perfbench/run.py")
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


# --------------------------------------------------------------------------
# the correctness gate, without Spark
# --------------------------------------------------------------------------

def _as_output_rows(expected: dict[str, dict]) -> dict[str, dict]:
    """Oracle results in the shape of the analyzed Spark output."""
    rows = {}
    for doc_id, e in expected.items():
        a = e["analysis"]
        rows[doc_id] = {
            "doc_id": doc_id, "spans": [dict(s) for s in e["spans"]],
            "doc_error": a["error"], "rank": e["rank"],
            **{f: a[f] for f in gate.ANALYSIS_FIELDS if f != "error"},
        }
    return rows


@pytest.fixture(scope="module")
def ranked_case():
    w = workloads.WORKLOADS["mixed_ranked"]
    docs, blobs = workloads.build_corpus(w, 3, 2, 12)
    query = workloads.job_query(w, 3)
    ids = [d["doc_id"] for d in docs]
    expected = gate.oracle_expectation(docs, blobs, query, set(ids), 2)
    return expected, ids


def test_gate_passes_matching_output(ranked_case):
    expected, ids = ranked_case
    res = gate.compare(expected, _as_output_rows(expected), ids)
    assert (res.attempted, res.failed) == (len(ids), 0)
    assert res.span_match_rate == res.analysis_match_rate == 1.0
    assert sum(1 for e in expected.values() if e["rank"]) == min(5, len(ids))


@pytest.mark.parametrize("corrupt", ["span_text", "span_order", "score",
                                     "rank", "unexpected", "missing"])
def test_gate_catches_a_corrupted_expectation(ranked_case, corrupt):
    expected, ids = ranked_case
    got = _as_output_rows(expected)
    bad = json.loads(json.dumps(expected))  # deep copy
    victim = next(d for d in ids if len(bad[d]["spans"]) > 1
                  and bad[d]["analysis"]["score_num"] is not None)
    if corrupt == "span_text":
        bad[victim]["spans"][0]["text"] += " x"
    elif corrupt == "span_order":
        bad[victim]["spans"].reverse()
    elif corrupt == "score":
        bad[victim]["analysis"]["score_num"] += 0.5
    elif corrupt == "rank":
        ranked = next(d for d in ids if bad[d]["rank"])
        bad[ranked]["rank"] = None
        victim = ranked
    elif corrupt == "unexpected":
        got[victim]["spans"][0]["error"] = "unexpected: boom"
        bad = expected
    elif corrupt == "missing":
        del got[victim]
        bad = expected
    res = gate.compare(bad, got, ids)
    assert res.failed == 1 and res.failures == [victim]
    if corrupt in ("span_text", "span_order"):
        assert res.span_match_rate < 1.0
    if corrupt in ("score", "rank"):
        assert res.analysis_match_rate < 1.0 and res.span_match_rate == 1.0


def test_stride_sample_keeps_every_edge_doc():
    w = workloads.WORKLOADS["text_chunked"]
    docs, _ = workloads.build_corpus(w, 5, 2, 40)
    sample = gate.stride_sample(docs, 5)
    edges = {d["doc_id"] for d in docs if d["doc_id"].startswith("edge-")}
    assert edges and edges <= sample
    assert len(sample - edges) <= 6


def test_workload_composition_is_fixed_across_seeds():
    w = workloads.WORKLOADS["mixed_ranked"]
    counts = []
    for seed in (1, 2):
        docs, blobs = workloads.build_corpus(w, seed, 2, 100)
        gen = [d for d in docs if not d["doc_id"].startswith("edge-")]
        counts.append(sorted(workloads.doc_class(d) for d in gen))
        refs = {s["media_ref"] for d in docs for s in d["spans"]}
        assert {b["media_ref"] for b in blobs} <= refs
    assert counts[0] == counts[1]
    assert counts[0].count("skew") == 1


# --------------------------------------------------------------------------
# plan check, without Spark
# --------------------------------------------------------------------------

def _plan(name, *children, simple=""):
    return {"nodeName": name, "simpleString": simple or name,
            "children": list(children)}


def _extraction(join="BroadcastHashJoin", sink=True):
    scan = _plan("Scan parquet ")
    media = _plan("MapInPandas", _plan(join, _plan("Exchange", scan),
                                       _plan("BroadcastExchange", scan)))
    body = _plan("ObjectHashAggregate", _plan("Exchange", _plan(
        "Union", _plan("Generate", scan), media)))
    if not sink:
        return _plan("OverwriteByExpression", _plan("AdaptiveSparkPlan", body))
    return _plan("AdaptiveSparkPlan", _plan(
        "Execute InsertIntoHadoopFsRelationCommand",
        _plan("WriteFiles", _plan("Sort", _plan("CollectMetrics", body))),
        simple="Execute InsertIntoHadoopFsRelationCommand "
               "file:/x/documents_extracted/data"))


def _media(join="BroadcastHashJoin", udf=True):
    scan = _plan("Scan parquet ")
    node = _plan(join, _plan("Exchange", scan), _plan("BroadcastExchange", scan))
    return _plan("OverwriteByExpression", _plan("MapInPandas", node)
                 if udf else node)


def _groups(call, sink, documents, media, media_join):
    return {"run_extraction": {"plans": call}, "probe:sink": {"plans": sink},
            "probe:documents": {"plans": documents},
            "probe:media": {"plans": media},
            "probe:media_join": {"plans": media_join}}


def test_plan_check_accepts_probes_that_match_the_call():
    check = layers.check_plans(_groups(
        [_extraction(), _extraction()], [_extraction()],
        [_extraction(sink=False)], [_media()], [_media(udf=False)]),
        "run_extraction")
    assert check["ok"] and check["broadcast_join"], check
    assert check["call_extraction_writes"] == 2


@pytest.mark.parametrize("stale", ["documents", "media_join", "sink"])
def test_plan_check_catches_a_stale_probe(stale):
    smj = "SortMergeJoin"
    groups = _groups(
        [_extraction()],
        [_extraction(smj) if stale == "sink" else _extraction()],
        [_extraction(smj, sink=False) if stale == "documents"
         else _extraction(sink=False)],
        [_media()],
        [_media(smj, udf=False) if stale == "media_join"
         else _media(udf=False)])
    check = layers.check_plans(groups, "run_extraction")
    assert not check["ok"] and check["mismatches"] == [stale]


def test_plan_check_fails_when_the_call_wrote_nothing():
    check = layers.check_plans(_groups([], [], [], [_media()],
                                       [_media(udf=False)]), "run_extraction")
    assert not check["ok"]


def test_ledger_flags_negative_layers():
    cpu = procstat.CpuSplit(1.0, 1.0, 0.0)
    walls = {"scan": 1.0, "media_join": 1.5, "media": 3.0, "media_html": 2.9,
             "spans": 3.5, "documents": 4.0, "sink": 5.0, "analyze": 1.0}
    probes = {k: layers.Sample(v, cpu) for k, v in walls.items()}
    metrics, check = layers.layer_ledger(
        probes, layers.Sample(6.0, procstat.CpuSplit(2.0, 2.0, 0.0)), 1, 0.0)
    assert check["negative_layers"] == ["extract.html_branch_s"]
    assert metrics["pipeline.sink_s"] == 1.0
    assert metrics["trace.layer_coverage"] == 1.0  # (2 + 2) / 4
    assert check["coverage_wall"] == 1.0


# --------------------------------------------------------------------------
# /proc sampler
# --------------------------------------------------------------------------

def test_cpu_split_counts_a_reaped_child():
    before = procstat.cpu_split()
    child = subprocess.Popen([sys.executable, "-c",
                              "import time\nt=time.process_time()\n"
                              "while time.process_time()-t<0.3: pass"])
    child.wait(timeout=30)
    spent = (procstat.cpu_split() - before).total
    assert spent >= 0.25


def test_rss_watch_sees_no_workers_without_spark():
    with procstat.RssWatch(interval_s=0.05) as rss:
        time.sleep(0.1)
    assert rss.peak_mb == 0.0 and not rss.peaks
    assert procstat.peak_rss_mb(os.getpid()) > 0


def test_peak_rss_resets_to_the_current_rss():
    child = subprocess.Popen(
        [sys.executable, "-c", "import sys, time\n"
         "x = bytearray(96 << 20)\nx[::4096] = b'1' * len(x[::4096])\n"
         "del x\nprint(flush=True)\ntime.sleep(30)"],
        stdout=subprocess.PIPE, text=True)
    try:
        child.stdout.readline()
        before = procstat.peak_rss_mb(child.pid)
        assert procstat.reset_peak_rss(child.pid)
        after = procstat.peak_rss_mb(child.pid)
        assert before > 90 and after < before - 60, (before, after)
    finally:
        child.kill()
        child.wait()
