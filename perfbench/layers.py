"""Where the traced run puts its spans: the public entry points of each
layer, and the per-layer metrics computed from them.

Layers (module names): tokenizer, index_build, codec, search, service,
facets, typo, and entry (`__spark_entry__.queries()` plus its Spark jobs).
"""

from __future__ import annotations

import statistics
import time


def instrument(tracer) -> None:
    """Wrap each layer's entry points in spans, with counters at the same
    boundaries. Undo with tracer.restore()."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from sparkft import (codec, facets, index_build, scoring, search, service,
                         tokenizer, typo)

    c = tracer.counts

    def count_decoded(_a, _kw, out):
        c["codec.values_decoded"] += len(out)

    def count_read(_a, _kw, out):
        for parts in out.values():
            c["search.rows_read"] += len(parts)
            for p in parts:
                c["search.bytes_read"] += (len(p["doc_gaps"]) + len(p["tfs"])
                                           + len(p["lens"]))

    def count_cache(args, kwargs, _out=None):
        reader = args[0]
        terms = args[1] if len(args) > 1 else kwargs["terms"]
        c["search.postings_requests"] += len(terms)
        c["search.cache_hits"] += sum(t in reader._decoded_cache for t in terms)

    def inject_wand_stats(args, kwargs):
        # stats is the 4th parameter; wand_topk passes it positionally
        if len(args) < 4 and kwargs.get("stats") is None:
            kwargs["stats"] = {}

    def count_wand(args, kwargs, _out):
        st = args[3] if len(args) >= 4 else kwargs["stats"]
        if st is None:
            return
        c["search.wand_calls"] += 1
        c["search.wand_bails"] += bool(st.get("bailed_to_exhaustive"))
        c["search.wand_blocks_decoded"] += st.get("blocks_decoded", 0)
        c["search.wand_blocks_total"] += st.get("blocks_total", 0)

    def count_scored(args, kwargs, _out):
        tf = args[0] if args else kwargs["tf"]
        c["search.postings_scored"] += len(tf)

    def count_to_arrow(_a, _kw, out):
        c["entry.to_arrow_calls"] += 1

    patches = [
        (tokenizer, "tokenize_batch", "tokenize_batch", "tokenizer", None, None),
        (tokenizer, "tokenize_str", "tokenize_str", "tokenizer", None, None),
        (index_build, "build_index", "build_index", "index_build", None, None),
        (index_build, "upsert_docs", "upsert_docs", "index_build", None, None),
        (index_build, "compact_index", "compact_index", "index_build", None, None),
        (index_build, "delete_docs", "delete_docs", "index_build", None, None),
        (facets, "write_attribute_store", "write_attribute_store", "index_build", None, None),
        (facets, "write_attribute_index", "write_attribute_index", "index_build", None, None),
        (codec, "decode_varints", "decode_varints", "codec", None, count_decoded),
        (search.IndexReader, "load_segment_rows", "load_segment_rows", "search", None, count_read),
        (search.IndexReader, "load_postings", "load_postings", "search", count_cache, None),
        (search, "wand_topk_terms", "wand_topk_terms", "search", inject_wand_stats, count_wand),
        (scoring, "bm25", "bm25", "search", None, count_scored),
        (search, "quoted_query_topk", "quoted_query_topk", "search", None, None),
        (search, "search_as_you_type_topk", "search_as_you_type_topk", "search", None, None),
        (search, "taat_topk", "taat_topk", "search", None, None),
        (service.SearchService, "search", "service.search", "service", None, None),
        (service.SearchService, "search_as_you_type", "service.search_as_you_type", "service", None, None),
        (facets, "facet_counts", "facet_counts", "facets", None, None),
        (facets, "facet_stats", "facet_stats", "facets", None, None),
        (facets, "sort_topk", "sort_topk", "facets", None, None),
        (facets, "sort_multi_topk", "sort_multi_topk", "facets", None, None),
        (typo.PrecomputedSymSpell, "expand", "typo.expand", "typo", None, None),
        (typo.PrecomputedSymSpell, "expand_with_distance", "typo.expand", "typo", None, None),
        (typo.SymSpellIndex, "expand", "typo.expand", "typo", None, None),
        (typo.SymSpellIndex, "expand_with_distance", "typo.expand", "typo", None, None),
        (ClassicDataFrame, "toArrow", "entry.to_arrow", "entry", None, count_to_arrow),
    ]
    for owner, attr, name, layer, before, after in patches:
        tracer.patch(owner, attr, name, layer, before=before, after=after)


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def span_metrics(tracer, wall_s: float) -> dict:
    """Per-layer metrics measured by the spans of a timed phase of `wall_s`
    seconds (totals over the phase)."""
    c = tracer.counts
    own = tracer.self_s_by_layer()
    covered = sum(own.values())
    n_spans = len(tracer.spans)
    out = {
        "tokenizer.query_s": own.get("tokenizer", 0.0),
        "index_build.self_s": own.get("index_build", 0.0),
        "index_build.compact_s": tracer.inclusive_s("compact_index"),
        "codec.decode_s": own.get("codec", 0.0),
        "codec.values_decoded": c["codec.values_decoded"],
        "search.read_s": tracer.inclusive_s("load_segment_rows"),
        "search.rows_read": c["search.rows_read"],
        "search.bytes_read": c["search.bytes_read"],
        "search.cache_hit_ratio": _ratio(c["search.cache_hits"],
                                         c["search.postings_requests"]),
        "search.wand_s": tracer.inclusive_s("wand_topk_terms"),
        "search.wand_bail_ratio": _ratio(c["search.wand_bails"], c["search.wand_calls"]),
        "search.wand_blocks_decoded_ratio": _ratio(c["search.wand_blocks_decoded"],
                                                   c["search.wand_blocks_total"]),
        "search.score_s": tracer.inclusive_s("bm25"),
        "search.postings_scored": c["search.postings_scored"],
        "search.quoted_s": tracer.inclusive_s("quoted_query_topk"),
        "search.self_s": own.get("search", 0.0),
        "service.search_self_s": own.get("service", 0.0),
        "facets.s": own.get("facets", 0.0),
        "typo.expand_s": own.get("typo", 0.0),
        "entry.self_s": own.get("entry", 0.0),
        "entry.to_arrow_s": tracer.inclusive_s("entry.to_arrow"),
        "bench.self_s": max(wall_s - covered, 0.0),
        "trace.spans": n_spans,
        "trace.overhead_s": n_spans * tracer.span_cost_s(),
    }
    return out


def tokenizer_throughput(code_texts, prose_texts) -> dict:
    """Single-process `tokenize_batch` MiB/s over a workload's own code and
    prose documents (about 1 MiB each, median of 3 after a warm call).
    Measured untraced."""
    target_bytes = 1 << 20
    from sparkft.config import DEFAULT_CONFIG
    from sparkft.tokenizer import tokenize_batch

    def mib_per_s(texts) -> float:
        batch, size = [], 0
        for t in texts:
            if size >= target_bytes:
                break
            batch.append(t)
            size += len(t.encode("utf-8"))
        if not batch:
            return 0.0
        tokenize_batch(batch, DEFAULT_CONFIG, words_only=True)
        ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            tokenize_batch(batch, DEFAULT_CONFIG, words_only=True)
            ts.append(time.perf_counter() - t0)
        return size / 1048576 / statistics.median(ts)

    return {"tokenizer.code_mib_per_s": mib_per_s(code_texts),
            "tokenizer.prose_mib_per_s": mib_per_s(prose_texts)}


def job_counts(spark, group: str) -> tuple[int, int]:
    """(jobs, stages) Spark ran under job group `group`."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages += len(info.stageIds)
    return len(jobs), stages
