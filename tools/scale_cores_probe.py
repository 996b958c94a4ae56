"""Core-count scaling probe (r12 VERDICT item 2): measure the
EXEC-ONLY cost of a key set at two core counts and report the ratio.

Why this exists: the driver's low-core bench rerun at sf0.1 reads a
~1.0 wall ratio for every query because the per-query wall there is
dominated by driver-side constants (DataFrame build + plan compile +
stage latency), not data work. This probe makes core scaling
observable by (a) timing ONLY the noop-write call (exec), (b) running
at a bigger SF (default /tmp/sf1, the 10x replica from
tools/gen_sf.py), and (c) using warm caches/memos (rep0 absorbs lazy
memo builds and is discarded; only the memos the measured keys
actually consume get built, which keeps the 10x heap bounded — see
OPTIMIZATION_r12.md "Session-2 10x scale study").

Usage:
  python tools/scale_cores_probe.py [--cpus 8,32] [--reps 3]
      [--sf-dir /tmp/sf1] [--out FILE.json] key [key ...]
  (internal) --worker --cpus N: one measurement process; master is a
  static conf, so each core count needs a fresh JVM.

Measurement only — committed artifacts stay on bench.py.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def worker(cpus: int, sf_dir: str, reps: int, keys: list[str]) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    from sarfile_analyzer_ng_spark.queries import REGISTRY
    from sarfile_analyzer_ng_spark.session import get_spark
    from sarfile_analyzer_ng_spark.util import release

    spark = get_spark(f"scale_probe_c{cpus}")
    spark.sparkContext.setLogLevel("ERROR")
    # JVM warm-up, as bench.py does
    REGISTRY["q01_pricing_summary"][0](spark, sf_dir).write.format(
        "noop").mode("overwrite").save()
    execs: dict[str, float] = {}
    builds: dict[str, float] = {}
    for rep in range(reps + 1):  # rep0 = warm-up (lazy memo builds), dropped
        for key in keys:
            if key not in REGISTRY:
                continue
            spark.sparkContext.setJobDescription(f"{key}@c{cpus}")
            t0 = time.perf_counter()
            df = REGISTRY[key][0](spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            spark.sparkContext.setJobDescription(None)
            print(f"[probe] c{cpus} rep{rep} {key} build={t1-t0:.3f} "
                  f"exec={t2-t1:.3f}", file=sys.stderr)
            if rep == 0:
                continue
            execs[key] = min(execs.get(key, 9e9), round(t2 - t1, 3))
            builds[key] = min(builds.get(key, 9e9), round(t1 - t0, 3))
            release(spark)
    print(json.dumps({"exec": execs, "build": builds}))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--worker", action="store_true")
    ap.add_argument("--cpus", default="8,32")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/tmp/sf1"))
    ap.add_argument("--out", default=None)
    ap.add_argument("keys", nargs="+")
    args = ap.parse_args()

    if args.worker:
        worker(int(args.cpus), args.sf_dir, args.reps, args.keys)
        return

    results: dict[str, dict] = {}
    for cpus in [int(c) for c in args.cpus.split(",")]:
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker",
             "--cpus", str(cpus), "--reps", str(args.reps),
             "--sf-dir", args.sf_dir] + args.keys,
            env=env, capture_output=True, text=True)
        sys.stderr.write(proc.stderr[-4000:])
        if proc.returncode != 0:
            raise SystemExit(f"worker c{cpus} failed rc={proc.returncode}")
        results[f"c{cpus}"] = json.loads(proc.stdout.strip().splitlines()[-1])

    cs = sorted(results, key=lambda c: int(c[1:]))
    lo, hi = cs[0], cs[-1]
    report = {
        "sf_dir": args.sf_dir,
        "reps": args.reps,
        "cores": {c: results[c]["exec"] for c in cs},
        "exec_ratio_low_over_high": {
            k: round(results[lo]["exec"][k] / results[hi]["exec"][k], 2)
            for k in results[hi]["exec"]
            if results[hi]["exec"].get(k, 0) > 0.05
            and k in results[lo]["exec"]
        },
    }
    out = json.dumps(report, indent=1, sort_keys=True)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(out + "\n")
    print(out)


if __name__ == "__main__":
    main()
