"""`entries`: every `__spark_entry__.queries()` entry, once each per pass, in
the order pinned in entries_expected.json, each constructed and then
`.collect()`ed.

Set-up copies the ten input tables into a fresh directory and builds every
temp-cached entry store into a fresh temp dir, so a pass never pays a store
build and never reuses one an earlier run left behind (the stores are keyed
by the table directory's path). The tables are the repository's sf0.01 test
tables (seed 42), kept in perfbench/tables/sf0.01 because a run may read
nothing outside its checkout; --seed changes no input. Each entry's row
count and result digest are checked against the values recorded when the
benchmark was created.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

from .common import dir_bytes, rows_digest, use_temp_dir
from .layers import job_counts

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = os.path.join(HERE, "tables", "sf0.01")
EXPECTED = os.path.join(HERE, "entries_expected.json")


def _entry_module():
    import __spark_entry__

    return __spark_entry__


def setup(ctx, d: str) -> dict:
    e = _entry_module()
    sf = f"{d}/tables"
    shutil.copytree(TABLES, sf)
    use_temp_dir(f"{d}/tmp")
    spark = ctx.spark
    t0 = time.perf_counter()
    idx = e._engine_index(spark, sf)
    build_s = time.perf_counter() - t0
    e._deleted_index(spark, sf, compacted=False)
    e._deleted_index(spark, sf, compacted=True)
    e._part_engine_index(spark, sf)
    e._multi_engine_index(spark, sf)
    e._upsert_index(spark, sf)
    docs = spark.read.parquet(f"{sf}/documents.parquet").select("text").collect()
    return {"sf": sf, "build_s": build_s, "n_docs": len(docs),
            "index_bytes": dir_bytes(idx),
            "input_bytes": sum(len(r[0].encode("utf-8")) for r in docs)}


def load_expected() -> list:
    with open(EXPECTED) as f:
        return json.load(f)["entries"]


def pinned_names(registered) -> list:
    """The recorded entry order; refuses to run when the program registers
    a different entry set, so a pass always measures the same work."""
    names = [x["name"] for x in load_expected()]
    if sorted(names) != sorted(registered):
        missing = sorted(set(names) - set(registered))
        extra = sorted(set(registered) - set(names))
        raise SystemExit(f"entries: the registered entry set differs from "
                         f"{os.path.basename(EXPECTED)} (missing {missing}, "
                         f"new {extra}); re-record with perfbench/record_entries.py")
    return names


def one_pass(ctx, sf: str, names: list, qs: dict) -> list:
    """[(name, construct_s, collect_s, rows)] for one ordered pass."""
    spark, tracer = ctx.spark, ctx.tracer
    out = []
    for name in names:
        if tracer is not None:
            tracer.query_id = name
            spark.sparkContext.setJobGroup(f"perfbench-entry-{name}", name)
            calls0 = tracer.counts["entry.to_arrow_calls"]
            i = tracer.begin("entry.plan", "entry")
        t0 = time.perf_counter()
        df = qs[name](spark, sf)
        t1 = time.perf_counter()
        if tracer is not None:
            tracer.end(i)
            i = tracer.begin("entry.collect", "entry")
        rows = df.collect()
        t2 = time.perf_counter()
        if tracer is not None:
            tracer.end(i)
            tracer.counts["entry.classic_collects"] += (
                tracer.counts["entry.to_arrow_calls"] == calls0)
            jobs, stages = job_counts(spark, f"perfbench-entry-{name}")
            tracer.counts["entry.jobs"] += jobs
            tracer.counts["entry.stages"] += stages
        out.append((name, t1 - t0, t2 - t1, rows))
    if tracer is not None:
        tracer.query_id = None
    return out


def run(ctx, st: dict, seconds: float) -> dict:
    qs = _entry_module().queries()
    names = pinned_names(list(qs))
    t_end = time.perf_counter() + seconds
    passes = []
    t0 = time.perf_counter()
    while not passes or time.perf_counter() < t_end:
        passes.append(one_pass(ctx, st["sf"], names, qs))
    return {"passes": passes, "wall_s": time.perf_counter() - t0}


def report(ctx, st: dict, timed: dict, build_times: list) -> dict:
    expected = {x["name"]: x for x in load_expected()}
    lat, bad, rows = [], 0, 0
    for p in timed["passes"]:
        for name, construct_s, collect_s, got in p:
            lat.append((construct_s + collect_s) * 1000.0)
            rows += len(got)
            want = expected[name]
            if len(got) != want["rows"] or (
                    want["digest"] is not None and rows_digest(got) != want["digest"]):
                bad += 1
                print(f"[perfbench] entries: {name} rows={len(got)} "
                      f"digest={rows_digest(got)} differs from the record",
                      flush=True)
    build_s = statistics.median(build_times)
    passes = timed["passes"]
    layers = {"entry.rows": rows}
    if ctx.tracer is not None:
        c, tr = ctx.tracer.counts, ctx.tracer
        layers.update({
            "entry.plan_s": tr.inclusive_s("entry.plan"),
            "entry.jobs": c["entry.jobs"],
            "entry.stages": c["entry.stages"],
            "entry.rows_s": tr.inclusive_s("entry.collect") - tr.inclusive_s("entry.to_arrow"),
            "entry.classic_collects": c["entry.classic_collects"],
        })
    return {
        "latencies_ms": lat,
        "attempted": len(lat),
        "failed": bad,
        "build_docs_per_s": st["n_docs"] / build_s,
        "index_bytes_per_input_byte": st["index_bytes"] / st["input_bytes"],
        "context": {"passes": len(passes), "entries": len(lat) // len(passes),
                    "entries_s": sum(lat) / 1000.0 / len(passes)},
        "layers": layers,
        "texts": ([], []),  # plain-word tables: no code or prose to time
    }
