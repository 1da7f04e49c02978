"""Shared plumbing for the perfbench workloads: run isolation, the Spark
session, host context, and small measurement helpers."""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import os
import resource
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass
from typing import Optional

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@dataclass
class Ctx:
    """What a workload gets: the session, its seed, a size multiplier (1.0 =
    the recorded benchmark), and the tracer of a traced run (None when
    untraced)."""
    spark: object
    seed: int
    scale: float = 1.0
    tracer: Optional[object] = None

    def scaled(self, n: int, floor: int = 1) -> int:
        return max(floor, int(round(n * self.scale)))


def use_temp_dir(path: str) -> None:
    """Point every temp-dir consumer of this process (and of the Spark
    workers it starts) at `path`, so no run reuses an artifact an earlier
    run left behind."""
    os.makedirs(path, exist_ok=True)
    os.environ["TMPDIR"] = path
    tempfile.tempdir = path


def start_spark(work: str, cores: int):
    """local[cores] session whose scratch, temp and warehouse dirs all
    live under `work`."""
    spark_tmp = os.path.join(work, "spark")
    os.makedirs(spark_tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = spark_tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(max(cores * 2, 8)))
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", spark_tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # no hsperfdata file: the JVM would write it under /tmp
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={spark_tmp} -XX:-UsePerfData")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_workers(spark, cores: int) -> None:
    """One wave of tokenize tasks per core, so Python worker start-up and
    the engine import land before any timed or set-up region (the same
    warm-up bench.py does)."""
    from sparkft.config import DEFAULT_CONFIG
    from sparkft.index_build import POSTINGS_SCHEMA, make_tokenize_arrow_fn
    from sparkft.spark_util import ensure_shipped

    ensure_shipped(spark)
    fn = make_tokenize_arrow_fn(DEFAULT_CONFIG, "text", emit_sha=False)
    (spark.createDataFrame([(i, "warm up body") for i in range(cores * 4)],
                           "doc_id long, text string")
     .repartition(cores * 2).mapInArrow(fn, POSTINGS_SCHEMA).count())


def host_context(spark, cores: int) -> dict:
    """Host facts printed beside the metrics (never as metrics): versions,
    core count, and bench.py's two probes — one trivial job's dispatch
    latency and a sum over 100M longs — measured the same way."""
    import numpy
    import pyarrow
    import pyspark
    from pyspark.sql import functions as F

    tiny = spark.range(1000).repartition(cores)
    tiny.count()
    tiny.count()
    dispatch = []
    for _ in range(5):
        t0 = time.time()
        tiny.count()
        dispatch.append(time.time() - t0)
    kern = spark.range(100_000_000).agg(F.sum(F.col("id") * 2))
    kern.collect()
    kernel = []
    for _ in range(3):
        t0 = time.time()
        kern.collect()
        kernel.append(time.time() - t0)
    return {
        "nproc": cores,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "python": sys.version.split()[0],
        "host_dispatch_ms": round(1000 * statistics.median(dispatch), 1),
        "host_jvm_kernel_ms": round(1000 * statistics.median(kernel), 1),
    }


def peak_rss_mb() -> float:
    """Peak resident set of this (driver) process; ru_maxrss is KiB."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def write_parquet(frame, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), path)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sequence."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return s[k]


def _norm(v):
    if isinstance(v, float):
        return float(f"{v:.6g}")
    if isinstance(v, decimal.Decimal):
        return float(f"{float(v):.6g}")
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def rows_digest(rows) -> str:
    """Order-insensitive digest of collected rows. Floats are compared at 6
    significant digits, so a different summation order in a Spark
    aggregate does not count as a different result."""
    lines = sorted(repr(_norm(tuple(r))) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
