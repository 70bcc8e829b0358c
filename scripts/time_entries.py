"""Isolated per-entry timing: median-of-N (default 3) noop-sink executions
of the named catalog entries, with cache cleared between entries — the same
adjudication protocol bench.py uses for at-risk entries (guide §1.4).

Usage: python scripts/time_entries.py q1 q2 ...  [--reps N] [--json PATH]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import warm_session  # noqa: E402
from zio_analytics_spark import catalog  # noqa: E402
from zio_analytics_spark.session import get_spark  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    reps = 3
    json_path = None
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]
    if "--json" in args:
        i = args.index("--json")
        json_path = args[i + 1]
        del args[i : i + 2]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("time_entries")
    warm_session(spark, sf_dir)

    fns = catalog.queries()
    out = {}
    for name in args:
        spark.sparkContext.setJobDescription(f"time_entries: {name}")
        samples = []
        for _ in range(reps):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = fns[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
        out[name] = {"median": round(statistics.median(samples), 3), "reps": samples}
        print(f"{name}: median {out[name]['median']:.3f}s  reps {samples}")
    if json_path:
        with open(json_path, "w") as f:
            json.dump({"sf_dir": sf_dir, "measured": out}, f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
