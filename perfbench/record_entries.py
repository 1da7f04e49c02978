#!/usr/bin/env python3
"""Record the `entries` workload's pinned entry list and expected results.

    python3 perfbench/record_entries.py

Sets up the entries workload once, runs two passes over every registered
entry in name order, and writes perfbench/entries_expected.json: each
entry's row count and order-insensitive result digest. An entry whose
digest differs between the two passes is recorded with digest null and is
then checked by row count only. Re-run it only when the set of entries or
their intended results change.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    from perfbench import entries
    from perfbench.common import Ctx, rows_digest, start_spark, use_temp_dir, warm_workers
    from perfbench.run import _stop

    work = os.path.join(ROOT, ".perfbench", f"record-{os.getpid()}")
    use_temp_dir(os.path.join(work, "tmp"))
    cores = os.cpu_count() or 1
    spark = start_spark(work, cores)
    try:
        warm_workers(spark, cores)
        ctx = Ctx(spark=spark, seed=0)
        os.makedirs(os.path.join(work, "setup"))
        st = entries.setup(ctx, os.path.join(work, "setup"))
        qs = entries._entry_module().queries()
        names = sorted(qs)
        first, second = (entries.one_pass(ctx, st["sf"], names, qs) for _ in range(2))
        out = []
        for (name, _, _, a), (_, _, _, b) in zip(first, second):
            da, db = rows_digest(a), rows_digest(b)
            out.append({"name": name, "rows": len(a), "digest": da if da == db else None})
            if len(a) != len(b):
                raise SystemExit(f"{name}: row count differs between passes")
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    with open(entries.EXPECTED, "w") as f:
        json.dump({"tables": os.path.relpath(entries.TABLES, ROOT), "entries": out}, f, indent=1)
        f.write("\n")
    unstable = [x["name"] for x in out if x["digest"] is None]
    print(f"recorded {len(out)} entries; row-count only: {unstable}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
