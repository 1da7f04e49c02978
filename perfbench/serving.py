"""The closed-loop query client shared by the ingest (cold) and serve (warm)
workloads: one caller, the next query sent only after the previous reply."""

from __future__ import annotations

import time


def build_serving_index(spark, docs_path: str, out_dir: str) -> None:
    """The serving index over a (doc_id, text, lang, n_chars) parquet
    corpus: positional segments, the typo-variant table, and the attribute
    store and index behind filters, facets and sort."""
    from sparkft.facets import write_attribute_index, write_attribute_store
    from sparkft.index_build import build_index

    docs = spark.read.parquet(docs_path).select("doc_id", "text", "lang", "n_chars")
    build_index(spark, docs, out_dir, text_col="text", doc_id_col="doc_id",
                num_shards=2, num_buckets=8, index_positions=True,
                typo_variants=True)
    write_attribute_store(spark, docs, out_dir, cols=("lang", "n_chars"))
    write_attribute_index(spark, docs, out_dir, cols=("lang",))


def open_services(index_dir: str):
    """(plain service, typo-tolerant service) over ONE reader, so both
    share the decoded-postings cache."""
    from sparkft.service import IndexSettings, SearchService

    svc = SearchService(index_dir, IndexSettings(
        filterable_attributes=("lang",), sortable_attributes=("n_chars",)))
    typo = SearchService(index_dir, IndexSettings(typo_tolerance=True))
    typo.reader = svc.reader
    return svc, typo


def run_query(svc, typo, kind: str, q: str, lang):
    if kind == "typo":
        return typo.search(q, 10)
    if kind == "filter_facet":
        return svc.search(q, 10, filter=("lang", lang), facets=["lang"])
    if kind == "sayt":
        return svc.search_as_you_type(q, 10)
    if kind == "sort":
        return svc.search(q, 10, sort=("n_chars", True))
    return svc.search(q, 10)  # bm25 and quoted phrase


def run_queries(svc, typo, queries, seconds=None, tracer=None):
    """Send `queries` in order (cycling) until `seconds` pass, or exactly
    once when seconds is None. -> (latencies in ms, failed count)."""
    lat, failed = [], 0
    t_end = None if seconds is None else time.perf_counter() + seconds
    i = 0
    while True:
        if t_end is None and i == len(queries):
            break
        if t_end is not None and time.perf_counter() >= t_end:
            break
        kind, q, lang = queries[i % len(queries)]
        if tracer is not None:
            tracer.query_id = i
        t0 = time.perf_counter()
        try:
            run_query(svc, typo, kind, q, lang)
        except Exception:  # noqa: BLE001 — a failed query is counted, not fatal
            failed += 1
        lat.append((time.perf_counter() - t0) * 1000.0)
        i += 1
    if tracer is not None:
        tracer.query_id = None
    return lat, failed


def same_hits(got: list, want: list) -> bool:
    """Rank identity: the same doc ids in the same order, scores equal to
    1e-9 relative tolerance."""
    rel = 1e-9
    if [d for d, _ in got] != [d for d, _ in want]:
        return False
    return all(abs(a - b) <= rel * max(abs(a), abs(b), 1e-12)
               for (_, a), (_, b) in zip(got, want))
