"""Snapshot the registry TAIL (entries beyond the driver's 50-entry
recording window) so tests/test_tail_staleness.py can prove they are
unchanged since the round that last recorded them green.

Each tail entry gets two digests:
  - sql_sha:  sha256 of its oracle SQL text, package data directory
    replaced by ``<DATA_DIR>`` (None → "rows-only"),
  - plan_sha: sha256 of its *normalized* analyzed logical plan at
    sf0.001 — expression ids (#123), plan ids, and memory-size hints
    are scrubbed, so the digest moves only when the query's actual
    shape (operators, expressions, inputs) moves. The ANALYZED plan
    (not optimized) on purpose: cache substitution rewrites the
    optimized plan with InMemoryRelations whose contents depend on
    what else ran in the session, which made the digest
    order-dependent under the full test suite.

POLICY: regenerate this snapshot ONLY (a) when rotating the tail, with
entries whose most recent driver CORRECTNESS row is green, or (b)
after an engine-wide infrastructure change (e.g. a scan-path conf)
that moves EVERY plan digest, and only once a full local
``tools/check_oracle.py`` run passes. A digest mismatch in the test
otherwise means the query changed after its recorded pass — the fix
is to rotate it back into the 50-entry window, not to rerun this
script on a red query.

Usage: python tools/snapshot_tail.py [--round rN]
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SNAPSHOT_PATH = os.path.join(ROOT, "tests", "data", "tail_snapshots.json")
SF_DIR = "/root/testdata/sf0.001"
WINDOW = 50


def _normalize_plan(plan: str) -> str:
    plan = re.sub(r"#\d+", "#N", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    plan = re.sub(r"Statistics\([^)]*\)", "Statistics()", plan)
    plan = re.sub(r"\d+(\.\d+)?\s*(B|KiB|MiB|GiB)\b", "SZ", plan)
    # lambda variable NAMES carry a session-global counter (x_24 in a
    # fresh session is x_93 after other queries built lambdas) — the
    # suffix is identity, not shape
    plan = re.sub(r"lambda ([a-z]+)_\d+#N", r"lambda \1#N", plan)
    return plan.strip()


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def sql_digest(sql: str) -> str:
    """sha256 of oracle SQL with the package data directory (embedded
    by the read_csv oracles) replaced by a placeholder, so the digest
    is the same from any checkout path."""
    from sarfile_analyzer_ng_spark.queries import _DATA_DIR

    return _sha(sql.replace(_DATA_DIR, "<DATA_DIR>"))


def tail_digests(spark) -> dict[str, dict[str, str]]:
    """Digest every registry entry beyond the driver window."""
    from sarfile_analyzer_ng_spark.queries import REGISTRY

    out = {}
    for key in list(REGISTRY)[WINDOW:]:
        fn, sql = REGISTRY[key]
        df = fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().analyzed().toString()
        out[key] = {
            "sql_sha": sql_digest(sql) if sql is not None else "rows-only",
            "plan_sha": _sha(_normalize_plan(plan)),
        }
    return out


def main() -> None:
    from sarfile_analyzer_ng_spark.session import get_spark

    recorded = sys.argv[sys.argv.index("--round") + 1] if "--round" in sys.argv else "r3"
    spark = get_spark("snapshot-tail", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        with open(SNAPSHOT_PATH) as f:
            prev = json.load(f)
    except (OSError, ValueError):
        prev = {}
    digests = tail_digests(spark)
    lg = last_green_rounds()
    for k, v in digests.items():
        # provenance (r12 VERDICT #8): an entry whose digests did not
        # move keeps its prior last_recorded — stamping every entry
        # with the current round erased per-key history and made a
        # no-op rerun look like a full re-snapshot. Entries new to
        # the tail (or with moved digests) get their NEWEST driver
        # CORRECTNESS green round; the --round arg is only the
        # fallback for keys no artifact has recorded yet.
        old = prev.get(k)
        if k in lg:
            # the ground truth: the newest driver CORRECTNESS green —
            # repairs r12's blanket stamp too
            v["last_recorded"] = f"r{lg[k]}"
        elif (
            old
            and old.get("sql_sha") == v["sql_sha"]
            and old.get("plan_sha") == v["plan_sha"]
            and old.get("last_recorded")
        ):
            v["last_recorded"] = old["last_recorded"]
        else:
            v["last_recorded"] = recorded
    with open(SNAPSHOT_PATH, "w") as f:
        json.dump(digests, f, indent=2, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(digests)} tail snapshots to {SNAPSHOT_PATH}")


# ---------------------------------------------------------------
# Rotation rule (r10, VERDICT r9 directive): the window beyond
# new/changed keys must be filled OLDEST-recorded-first so no key
# drifts unrecorded. Pure-python (no Spark) — enforced by
# tests/test_rotation.py on every run.
# ---------------------------------------------------------------

CHANGED_PATH = os.path.join(ROOT, "tools", "rotation_changed.json")


def last_green_rounds(repo: str = ROOT) -> dict[str, int]:
    """key -> newest round whose driver CORRECTNESS artifact records
    it fully green (rows + schema + hash)."""
    import glob

    out: dict[str, int] = {}
    for f in sorted(glob.glob(repo + "/CORRECTNESS_r*.json")):
        rno = int(re.search(r"_r(\d+)", f).group(1))
        with open(f) as fh:
            d = json.load(fh)
        for k, v in d.items():
            if (
                v.get("rows_match")
                and v.get("schema_match")
                and v.get("hash_match")
            ):
                out[k] = max(out.get(k, 0), rno)
    return out


def check_rotation() -> list[str]:
    """Violations of the oldest-recorded-first window rule:
    (a) every never-driver-green key sits in the window (it needs a
        first recording);
    (b) a recorded window key must be no NEWER than the oldest tail
        recording unless it is declared in rotation_changed.json
        (the per-round list of keys whose impl/oracle changed and so
        need a fresh green regardless of age) OR its latest green is
        the NEWEST recorded round overall AND the manifest round is
        not ahead of that recording — a window key freshly recorded
        by the driver this round is compliant by construction
        ("awaiting re-pin", VERDICT r10 What's-wrong #1: the artifact
        landing must not flip the suite red; the round-start re-pin
        then rotates the slot to an older key). The manifest-round
        guard (r11 ADVICE) closes the drift hole: once
        rotation_changed.json is stamped with the NEW round, the
        carve-out turns off, so a key changed after the last
        recording must either be declared or yield its slot — it can
        no longer ride its stale fresh-green past the check;
    (c) the tail is ordered by recording round, oldest first, so the
        next rotation is 'take from the top'."""
    from sarfile_analyzer_ng_spark.queries import REGISTRY

    keys = list(REGISTRY)
    window, tail = keys[:WINDOW], keys[WINDOW:]
    lg = last_green_rounds()
    with open(CHANGED_PATH) as fh:
        changed = set(json.load(fh)["changed"])
    errs = []
    for k in keys:
        if k not in lg and k not in window:
            errs.append(f"never-driver-green key {k} is not in the window")
    tail_lg = [lg[k] for k in tail if k in lg]
    floor_ = min(tail_lg) if tail_lg else 10**9
    newest = max(lg.values(), default=0)
    manifest_round = int(
        re.match(r"r(\d+)", json.load(open(CHANGED_PATH))["round"]).group(1)
    )
    for k in window:
        # freshly recorded this round — awaiting re-pin (carve-out off
        # once the manifest stamps a newer round: from then on a
        # fresh-green window key must be declared or ≤ the tail floor
        # — r11 ADVICE drift-hole fix)
        if k in lg and lg[k] == newest and manifest_round <= newest:
            continue
        if k in lg and k not in changed and lg[k] > floor_:
            errs.append(
                f"window key {k} (last green r{lg[k]}) is newer than the "
                f"oldest tail recording (r{floor_}) and is not declared in "
                f"rotation_changed.json — the slot belongs to an older key"
            )
    prev = 0
    for k in tail:
        if k in lg:
            if lg[k] < prev:
                errs.append(
                    f"tail key {k} (r{lg[k]}) breaks oldest-first tail "
                    f"order (follows an r{prev} key)"
                )
            prev = max(prev, lg[k])
    return errs


if __name__ == "__main__":
    main()
