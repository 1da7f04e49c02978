"""`serve`: warm reads.

Set-up builds the serving index over a corpus from the same generator as
`ingest` with another seed, opens the services and runs a seeded warm-up
pass. The timed phase is one closed-loop client sending the serving mix
(datagen.SERVE_MIX) until the run's seconds are spent. No Spark job runs in
the timed phase.
"""

from __future__ import annotations

import statistics
import time

from . import datagen
from .common import dir_bytes, write_parquet
from .serving import build_serving_index, open_services, run_queries, same_hits

N_DOCS = 6000
N_WARMUP = 300
N_QUERIES = 5000
N_CHECKS = 40
CORPUS_SEED_OFFSET = 1_000_003  # serve's corpus differs from ingest's


def setup(ctx, d: str) -> dict:
    n = ctx.scaled(N_DOCS, floor=200)
    corpus = datagen.code_and_prose_corpus(n, ctx.seed + CORPUS_SEED_OFFSET)
    write_parquet(corpus[["doc_id", "text", "lang", "n_chars"]], f"{d}/docs.parquet")
    t0 = time.perf_counter()
    build_serving_index(ctx.spark, f"{d}/docs.parquet", f"{d}/index")
    build_s = time.perf_counter() - t0
    svc, typo = open_services(f"{d}/index")
    langs = sorted(corpus["lang"].unique())
    code = corpus.loc[corpus["kind"] == "code", "text"].tolist()
    warm = datagen.query_mix(ctx.scaled(N_WARMUP, floor=20), ctx.seed + 7,
                             datagen.SERVE_MIX, phrase_texts=code, langs=langs)
    run_queries(svc, typo, warm)
    return {
        "corpus": corpus, "svc": svc, "typo": typo, "build_s": build_s,
        "index_bytes": dir_bytes(f"{d}/index"),
        "queries": datagen.query_mix(N_QUERIES, ctx.seed, datagen.SERVE_MIX,
                                     phrase_texts=code, langs=langs),
    }


def run(ctx, st: dict, seconds: float) -> dict:
    t0 = time.perf_counter()
    lat, failed = run_queries(st["svc"], st["typo"], st["queries"], seconds,
                              tracer=ctx.tracer)
    return {"latencies_ms": lat, "failed": failed, "wall_s": time.perf_counter() - t0}


def report(ctx, st: dict, timed: dict, build_times: list) -> dict:
    """BM25 hits of the sent queries against exhaustive TAAT scoring."""
    from sparkft.search import taat_topk

    lat = timed["latencies_ms"]
    sent = [st["queries"][i % len(st["queries"])] for i in range(len(lat))]
    checks = [q for kind, q, _ in sent if kind == "bm25"][:N_CHECKS]
    svc = st["svc"]
    bad = 0
    for q in checks:
        got = [(h["doc_id"], h["score"]) for h in svc.search(q, 10)["hits"]]
        bad += not same_hits(got, taat_topk(svc.reader, q, 10))
    corpus = st["corpus"]
    input_bytes = sum(len(t.encode("utf-8")) for t in corpus["text"])
    build_s = statistics.median(build_times)
    return {
        "latencies_ms": lat,
        "attempted": len(lat) + len(checks),
        "failed": timed["failed"] + bad,
        "build_docs_per_s": len(corpus) / build_s,
        "index_bytes_per_input_byte": st["index_bytes"] / input_bytes,
        "context": {"docs": len(corpus), "queries": len(lat), "checks": len(checks)},
        "layers": {},
        "texts": (corpus.loc[corpus["kind"] == "code", "text"].tolist(),
                  corpus.loc[corpus["kind"] == "prose", "text"].tolist()),
    }
