"""`ingest`: writes, then cold reads.

Each cycle builds a fresh positional, typo-tolerant index with its attribute
store and index, upserts ~2% of the docs (with compaction), deletes ~1%, and
serves N_SERVICES query sets of N_QUERIES each, every set through its own
freshly opened SearchService, so reads start from an empty decoded-postings
cache. The query vocabulary is small, so a service has decoded its common
terms within a few dozen queries: the cold first touches land in the tail,
and the sets are kept short so they stay a visible share of it. Cycles
repeat until the run's seconds are spent (at least one).
"""

from __future__ import annotations

import json
import statistics
import time

import numpy as np

from . import datagen
from .common import dir_bytes, write_parquet
from .layers import job_counts
from .serving import build_serving_index, open_services, run_queries, same_hits

N_DOCS = 4000
N_QUERIES = 1000
N_SERVICES = 5
N_CHECKS = 25


def setup(ctx, d: str) -> dict:
    """Generate the corpus, the upsert batch, the delete set and the query
    mix from the seed, and write the inputs the build reads."""
    import pandas as pd

    n = ctx.scaled(N_DOCS, floor=200)
    corpus = datagen.code_and_prose_corpus(n, ctx.seed)
    rng = np.random.default_rng((ctx.seed, 5))
    n_up = max(2, n // 50)
    replaced = rng.choice(n, size=n_up // 2, replace=False)
    changed = corpus.iloc[replaced].copy()
    changed["text"] = changed["text"] + "\n# upserted revision"
    added = datagen.code_and_prose_corpus(n_up - len(changed), ctx.seed + 1, prose_share=0.0)
    added["doc_id"] += n
    upsert = pd.concat([changed, added], ignore_index=True)
    upsert["n_chars"] = upsert["text"].str.len()
    rest = np.setdiff1d(np.arange(n), replaced)
    deleted = np.sort(rng.choice(rest, size=max(1, n // 100), replace=False))

    cols = ["doc_id", "text", "lang", "n_chars"]
    write_parquet(corpus[cols], f"{d}/docs.parquet")
    write_parquet(upsert[cols], f"{d}/upsert.parquet")
    langs = sorted(corpus["lang"].unique())
    n_q = ctx.scaled(N_QUERIES, floor=20)
    queries = datagen.query_mix(n_q * N_SERVICES, ctx.seed, datagen.INGEST_MIX, langs=langs)
    return {
        "dir": d,
        "corpus": corpus,
        "upsert": upsert,
        "deleted": deleted.tolist(),
        "query_sets": [queries[i:i + n_q] for i in range(0, len(queries), n_q)],
        "checks": [q for _, q, _ in datagen.query_mix(
            N_CHECKS, ctx.seed + 17, (("bm25", 1.0),))],
    }


def _cycle(ctx, st: dict, i: int) -> dict:
    from sparkft.index_build import delete_docs, upsert_docs

    spark = ctx.spark
    idx = f"{st['dir']}/index-{i}"
    group = f"perfbench-build-{i}"
    spark.sparkContext.setJobGroup(group, "ingest build")
    t0 = time.perf_counter()
    build_serving_index(spark, f"{st['dir']}/docs.parquet", idx)
    build_s = time.perf_counter() - t0
    spark.sparkContext.setJobGroup("perfbench-other", "ingest")
    jobs, _stages = job_counts(spark, group)
    with open(f"{idx}/stats.json") as f:
        stats = json.load(f)
    index_bytes = dir_bytes(idx)
    segment_bytes = dir_bytes(f"{idx}/segments")

    t0 = time.perf_counter()
    upsert_docs(spark, spark.read.parquet(f"{st['dir']}/upsert.parquet"), idx,
                text_col="text", id_col="doc_id", attr_cols=("lang", "n_chars"),
                num_buckets=8)
    upsert_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    delete_docs(idx, st["deleted"])
    delete_s = time.perf_counter() - t0

    lat, failed = [], 0
    for queries in st["query_sets"]:
        svc, typo = open_services(idx)
        more, bad = run_queries(svc, typo, queries, tracer=ctx.tracer)
        lat += more
        failed += bad
    return {"build_s": build_s, "upsert_s": upsert_s,
            "delete_s": delete_s, "stats": stats, "jobs": jobs,
            "index_bytes": index_bytes, "segment_bytes": segment_bytes,
            "latencies_ms": lat, "failed": failed, "svc": svc}


def _check(st: dict, svc) -> int:
    """Rank identity after upsert + compaction + delete against the
    brute-force scorer over the updated corpus (deleted docs stay in the
    BM25 statistics until the next compaction, so they are filtered from
    the reference ranking, not from its corpus)."""
    import pandas as pd

    from sparkft.oracle import BruteForceIndex

    corpus, up = st["corpus"], st["upsert"]
    live = pd.concat([corpus[~corpus["doc_id"].isin(up["doc_id"])], up])
    ref = BruteForceIndex(live["doc_id"].tolist(), live["text"].tolist())
    allowed = set(live["doc_id"].tolist()) - set(st["deleted"])
    bad = 0
    for q in st["checks"]:
        got = [(h["doc_id"], h["score"]) for h in svc.search(q, 10)["hits"]]
        bad += not same_hits(got, ref.filtered_topk(q, 10, allowed=allowed))
    return bad


def run(ctx, st: dict, seconds: float) -> dict:
    """The timed phase: ingest cycles until `seconds` pass (at least one)."""
    t_end = time.perf_counter() + seconds
    cycles = []
    t0 = time.perf_counter()
    while not cycles or time.perf_counter() < t_end:
        cycles.append(_cycle(ctx, st, len(cycles)))
    return {"cycles": cycles, "wall_s": time.perf_counter() - t0}


def report(ctx, st: dict, timed: dict, build_times: list) -> dict:
    cycles = timed["cycles"]
    n_docs = len(st["corpus"])
    input_bytes = sum(len(t.encode("utf-8")) for t in st["corpus"]["text"])
    mismatches = _check(st, cycles[-1]["svc"])
    lat = [x for c in cycles for x in c["latencies_ms"]]

    def med(key):
        return statistics.median(c[key] for c in cycles)

    def stage(key):
        return statistics.median(c["stats"]["stage_timings"].get(key, 0.0) for c in cycles)

    named = ("stage1_s", "posting_build_s", "positions_s", "typo_variants_s")
    other = statistics.median(
        c["stats"]["wall_s"] - sum(c["stats"]["stage_timings"].get(k, 0.0) for k in named)
        for c in cycles)
    return {
        "latencies_ms": lat,
        "attempted": len(lat) + 3 * len(cycles) + len(st["checks"]),
        "failed": sum(c["failed"] for c in cycles) + mismatches,
        "build_docs_per_s": n_docs / med("build_s"),
        "index_bytes_per_input_byte": cycles[0]["index_bytes"] / input_bytes,
        "context": {"cycles": len(cycles), "docs": n_docs,
                    "upsert_docs": len(st["upsert"]), "deleted_docs": len(st["deleted"]),
                    "build_s": med("build_s"), "upsert_s": med("upsert_s"),
                    "delete_s": med("delete_s"), "queries": len(lat)},
        "layers": {
            "index_build.stage1_s": stage("stage1_s"),
            "index_build.posting_build_s": stage("posting_build_s"),
            "index_build.positions_s": stage("positions_s"),
            "index_build.typo_variants_s": stage("typo_variants_s"),
            "index_build.other_s": other,
            "index_build.jobs": med("jobs"),
            "index_build.bytes_written": cycles[0]["index_bytes"],
            "codec.bytes_per_posting":
                cycles[0]["segment_bytes"] / max(cycles[0]["stats"]["n_postings"], 1),
        },
        "texts": (st["corpus"].loc[st["corpus"]["kind"] == "code", "text"].tolist(),
                  st["corpus"].loc[st["corpus"]["kind"] == "prose", "text"].tolist()),
    }
