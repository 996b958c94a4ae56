"""Targeted bench: time a subset of registry keys / memos with the
bench.py methodology (noop sink, min over reps, clearCache between
reps, memos forced first so each key measures its OWN plan cost).

Usage: python tools/bench_subset.py <key> [key ...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
       SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_REPS (default 2)

Prints one JSON line {key: min_seconds, ...}. Measurement only — the
committed artifacts stay on bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sarfile_analyzer_ng_spark.queries import REGISTRY, memo_builders
from sarfile_analyzer_ng_spark.session import get_spark
from sarfile_analyzer_ng_spark.util import release


def main() -> None:
    keys = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
    spark = get_spark("bench_subset")
    spark.sparkContext.setLogLevel("ERROR")
    memos = memo_builders()
    # JVM/footer warm-up, as bench.py does
    REGISTRY["q01_pricing_summary"][0](spark, sf_dir).write.format(
        "noop").mode("overwrite").save()
    timings: dict[str, float] = {}
    for rep in range(reps):
        # memos first: requested memo keys are timed; the rest are
        # forced untimed so registry keys run against warm memos
        for mkey, builder in memos.items():
            start = time.perf_counter()
            builder(spark, sf_dir).write.format("noop").mode(
                "overwrite").save()
            elapsed = round(time.perf_counter() - start, 3)
            if mkey in keys:
                print(f"[subset] rep{rep} {mkey} {elapsed}s",
                      file=sys.stderr)
                timings[mkey] = min(timings.get(mkey, elapsed), elapsed)
        for key in keys:
            if key not in REGISTRY:
                continue
            spark.sparkContext.setJobDescription(key)
            start = time.perf_counter()
            df = REGISTRY[key][0](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            elapsed = round(time.perf_counter() - start, 3)
            spark.sparkContext.setJobDescription(None)
            print(f"[subset] rep{rep} {key} {elapsed}s", file=sys.stderr)
            timings[key] = min(timings.get(key, elapsed), elapsed)
            release(spark)
        if rep < reps - 1:
            spark.catalog.clearCache()
    print(json.dumps(timings, sort_keys=True))


if __name__ == "__main__":
    main()
