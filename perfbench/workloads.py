"""The benchmark's workloads, each built from a seed.

Docs come from the corpus generator's per-doc-seeded worker (the one
``corpus.gen_corpus_fast`` runs), so a doc depends only on (seed, index).
Each workload takes a fixed count of each doc class, in generation order, so
that its composition, and with it the work per doc, is the same for every
seed; only the docs' content changes.  Left to chance, the 1% skew tail alone
(25% of span CPU in the mix) would swing a 600-doc corpus's work by ±10%
between seeds.  The FIXTURES.md §7 edge docs (``corpus._edge_docs``), which
exercise every error class, are appended to every workload.
"""

from __future__ import annotations

import multiprocessing
import random
from dataclasses import dataclass, field

# The FIXTURES.md §1 mix as the generator draws it: negatives (4%) split
# evenly between a text span and a pdf span, hence text 42% and pdf 22%.
MIX = {"text": 0.42, "html": 0.20, "pdf": 0.22, "image": 0.10,
       "interleaved": 0.05, "skew": 0.01}


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    docs: int              # generated docs kept, before the edge docs
    classes: tuple         # doc classes kept, in MIX proportions
    ranked: bool           # seeded job query → ranked mode
    run_kwargs: dict = field(default_factory=dict)
    buckets: int | None = None  # warehouse buckets; None: the package default


WORKLOADS = {
    w.name: w for w in (
        Workload(
            "mixed_ranked",
            "the paper's job on the paper's input: the full mix in one job "
            "with the pipeline's own broadcast choice, ranked by a seeded "
            "job query; per-call fixed cost is about 3/4 of a call's wall",
            docs=600, classes=tuple(MIX), ranked=True),
        Workload(
            "text_chunked",
            "text and html docs, one checkpointed job per warehouse bucket "
            "(chunk_size=1, 2 buckets), summary mode: no OCR; scan, html "
            "UDF, reassembly, sink and per-chunk fixed costs",
            docs=400, classes=("text", "html"), ranked=False,
            run_kwargs={"chunk_size": 1}, buckets=2),
        Workload(
            "media_shuffle",
            "media docs only through the blob shuffle join "
            "(broadcast_blobs=False), the path past the 64 MB cutoff: "
            "payload shuffle, binary handoff, skew tail",
            docs=200, classes=("pdf", "image", "interleaved", "skew"),
            ranked=False, run_kwargs={"broadcast_blobs": False}),
    )
}


def doc_class(doc: dict) -> str:
    from resume_ocr_spark.config import SKEW_SPAN_THRESHOLD

    kinds = [s["kind"] for s in doc["spans"]]
    if len(kinds) > SKEW_SPAN_THRESHOLD:
        return "skew"
    return kinds[0] if len(set(kinds)) == 1 else "interleaved"


def quotas(w: Workload, n_docs: int) -> dict[str, int]:
    """Docs per class: ``n_docs`` split in MIX proportions, each class kept
    at one doc at least."""
    total = sum(MIX[c] for c in w.classes)
    return {c: max(1, round(n_docs * MIX[c] / total)) for c in w.classes}


def build_corpus(w: Workload, seed: int, workers: int,
                 n_docs: int | None = None) -> tuple[list[dict], list[dict]]:
    """(docs, blobs) for ``w``; deterministic in (w, seed, n_docs).

    Generates blocks of doc indexes in a pool of ``workers`` until every
    class quota is filled.  The pool forks, so call this before the JVM
    starts."""
    from resume_ocr_spark import corpus

    need = quotas(w, n_docs or w.docs)
    docs: list[dict] = []
    blobs: list[dict] = []
    lo, block = 0, max(64, sum(need.values()))
    with multiprocessing.get_context("fork").Pool(workers) as pool:
        while any(need.values()):
            step = -(-block // workers)
            ranges = [(seed, a, min(a + step, lo + block))
                      for a in range(lo, lo + block, step)]
            for part_docs, part_blobs in pool.map(corpus._gen_docs_range,
                                                  ranges):
                by_ref = {b["media_ref"]: b for b in part_blobs}
                for d in part_docs:
                    c = doc_class(d)
                    if need.get(c, 0) > 0:
                        need[c] -= 1
                        docs.append(d)
                        blobs.extend(by_ref[s["media_ref"]]
                                     for s in d["spans"] if s["media_ref"])
            lo += block
            block = max(64, block // 2)
    return docs + corpus._edge_docs(blobs), blobs


def job_query(w: Workload, seed: int) -> str | None:
    from resume_ocr_spark import corpus

    return corpus.make_job_query(random.Random(seed)) if w.ranked else None
