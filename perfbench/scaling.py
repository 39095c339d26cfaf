"""The local[1] half of the traced run's 1 -> 4 core reference.

    python3 -m perfbench.scaling <work dir> <inputs dir> <output dir>

Runs in a process of its own, so the local[1] session gets a JVM of its own
and shares no state with the local[4] one.  It warms up on 1/REF_SHARE of
the pages, times one pass over all of them, and prints that pass as one
JSON line.  It expects the environment ``run.py`` sets up.
"""

from __future__ import annotations

import json
import os
import sys

from perfbench import box, passes, workload


def main(argv: list[str]) -> int:
    work, inputs, out = argv
    try:
        spark = passes.start_session(work, "local[1]")
        dicts = passes.Dicts(spark, inputs)
        pages = spark.read.parquet(os.path.join(inputs, "pages"))
        dicts.pin()
        warm = pages.filter(passes.crawl_batch(workload.REF_SHARE) == 0)
        passes.flagship_pass(spark, dicts, warm, out)
        passes.clear_cache(spark)
        dicts.pin()
        result = passes.flagship_pass(spark, dicts, pages, out)
    finally:
        box.shutdown_jvm()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
