"""Correctness gate: the benchmark's output against ``oracle.run_pipeline``.

Every output doc is one operation.  It fails when it is missing, when any of
its spans carries an ``unexpected:`` error (a code bug surfacing as data), or,
for docs in the oracle sample, when its span sequence or analysis row differs
from the oracle's.  In ranked mode the sample is every doc, because a top-5
rank depends on the scores of all docs, and each doc's rank is part of its
analysis row.

Span-match proves orchestration (join, order, reassembly), not the codecs:
the Spark media branch calls ``oracle.extract_span`` itself.
"""

from __future__ import annotations

import multiprocessing
from dataclasses import dataclass, field

CAVEAT = ("span_match_rate proves orchestration (join, order, reassembly), "
          "not the codecs: the Spark media branch calls oracle.extract_span "
          "itself (operators/extract.py, _media_batches)")

ANALYSIS_FIELDS = ("rejected", "error", "score_num", "score_label", "summary",
                   "emails", "phones", "dates", "n_sections")


def stride_sample(docs: list[dict], max_docs: int) -> set[str]:
    """Every k-th doc plus every §7 edge doc (ids ``edge-*``)."""
    step = max(1, -(-len(docs) // max(1, max_docs)))
    ids = {d["doc_id"] for d in docs[::step]}
    return ids | {d["doc_id"] for d in docs if d["doc_id"].startswith("edge-")}


def _oracle_chunk(args):
    from resume_ocr_spark import oracle

    docs, blobs, query = args
    return oracle.run_pipeline(docs, blobs, query=query)


def oracle_expectation(docs: list[dict], blobs: list[dict], query: str | None,
                       sample: set[str], workers: int) -> dict[str, dict]:
    """``oracle.run_pipeline`` over the sampled docs, in ``workers`` forked
    processes (so call it before a JVM starts).

    Ranks are global: ranked mode samples every doc, each chunk ranks its
    own top-K, and the global top-K (a subset of the chunks' top-K union)
    comes from one more ``run_pipeline`` over that union."""
    from resume_ocr_spark import oracle

    chosen = [d for d in docs if d["doc_id"] in sample]
    if query is not None and len(chosen) != len(docs):
        raise ValueError("ranked mode needs the oracle over every doc")
    by_ref = {b["media_ref"]: b for b in blobs}

    def blobs_for(ds):
        refs = {s["media_ref"] for d in ds for s in d["spans"]}
        return [by_ref[r] for r in refs if r in by_ref]

    n_chunks = max(1, min(len(chosen), 4 * workers))
    chunks = [chosen[i::n_chunks] for i in range(n_chunks)]
    with multiprocessing.get_context("fork").Pool(workers) as pool:
        parts = pool.map(_oracle_chunk,
                         [(c, blobs_for(c), query) for c in chunks])
    out: dict[str, dict] = {}
    for p in parts:
        out.update(p)
    if query is not None:
        finalists = [d for d in chosen
                     if any(p[d["doc_id"]]["rank"] for p in parts
                            if d["doc_id"] in p)]
        top = oracle.run_pipeline(finalists, blobs_for(finalists), query=query)
        for doc_id, r in out.items():
            r["rank"] = top[doc_id]["rank"] if doc_id in top else None
    return out


def _span_seq(spans) -> list[tuple]:
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


def _analysis(row: dict) -> tuple:
    got = dict(row, error=row["doc_error"])
    return tuple(list(got[f]) if f in ("emails", "phones", "dates")
                 else got[f] for f in ANALYSIS_FIELDS) + (row["rank"],)


def _expected_analysis(exp: dict) -> tuple:
    a = exp["analysis"]
    return tuple(a[f] for f in ANALYSIS_FIELDS) + (exp["rank"],)


@dataclass
class GateResult:
    attempted: int
    failed: int
    sampled: int
    span_matches: int
    analysis_matches: int
    unexpected_docs: int
    missing_docs: int
    failures: list[str] = field(default_factory=list)

    @property
    def span_match_rate(self) -> float:
        return self.span_matches / self.sampled if self.sampled else 0.0

    @property
    def analysis_match_rate(self) -> float:
        return self.analysis_matches / self.sampled if self.sampled else 0.0


def compare(expected: dict[str, dict], got: dict[str, dict],
            doc_ids: list[str]) -> GateResult:
    """``got``: analyzed output rows (as dicts, spans as dicts) by doc_id."""
    res = GateResult(attempted=len(doc_ids), failed=0, sampled=len(expected),
                     span_matches=0, analysis_matches=0, unexpected_docs=0,
                     missing_docs=0)
    for doc_id in doc_ids:
        row = got.get(doc_id)
        ok = row is not None
        if not ok:
            res.missing_docs += 1
        elif any((s["error"] or "").startswith("unexpected:")
                 for s in row["spans"]):
            res.unexpected_docs += 1
            ok = False
        exp = expected.get(doc_id)
        if exp is not None and row is not None:
            span_ok = _span_seq(row["spans"]) == _span_seq(exp["spans"])
            analysis_ok = _analysis(row) == _expected_analysis(exp)
            res.span_matches += span_ok
            res.analysis_matches += analysis_ok
            ok = ok and span_ok and analysis_ok
        if not ok:
            res.failed += 1
            if len(res.failures) < 5:
                res.failures.append(doc_id)
    extra = set(got) - set(doc_ids)
    res.failed += len(extra)
    res.attempted += len(extra)
    return res


def collect_rows(df) -> dict[str, dict]:
    """Analyzed Spark frame → {doc_id: row dict with spans as dicts}."""
    rows = {}
    for r in df.collect():
        d = r.asDict()
        d["spans"] = [s.asDict() for s in d["spans"]]
        rows[d["doc_id"]] = d
    return rows
