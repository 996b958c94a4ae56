"""Round-start window re-pin (VERDICT r10 directive #1).

Rewrites the REGISTRY literal in queries.py so the driver's 50-entry
recording window is composed as: this round's new/changed keys first
(read from tools/rotation_changed.json), then every remaining key
OLDEST-driver-recording-first (ties keep current registry order).
The tail is likewise ordered oldest-recording-first so rule (c) of
check_rotation holds and the next rotation is "take from the top".

Run AFTER updating rotation_changed.json for the new round and BEFORE
snapshot_tail.py (the tail set changes). Pure text transform — the
entry lines themselves are moved verbatim, never edited.

Usage: python tools/repin_window.py
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from snapshot_tail import (  # noqa: E402
    CHANGED_PATH, ROOT, WINDOW, last_green_rounds,
)

QUERIES_PATH = os.path.join(ROOT, "sarfile_analyzer_ng_spark", "queries.py")
ENTRY_RE = re.compile(r'^    "(q\w+)": \(\w+, \w+\),$')


def main() -> None:
    with open(QUERIES_PATH) as f:
        src = f.read()
    head, block = src.split("REGISTRY: dict[str, tuple", 1)
    open_brace = block.index("{")
    close = block.index("\n}\n")
    body = block[open_brace + 1 : close]
    entries: dict[str, str] = {}
    order: list[str] = []
    for line in body.splitlines():
        m = ENTRY_RE.match(line)
        if m:
            entries[m.group(1)] = line
            order.append(m.group(1))
    # a registry line that gained a comment or re-wrapped would fail
    # ENTRY_RE and silently vanish from the rewrite — check the parse
    # against the IMPORTED registry, not against itself (r11 review)
    from sarfile_analyzer_ng_spark.queries import REGISTRY

    missing = sorted(set(REGISTRY) ^ set(entries))
    assert not missing, f"unparsed/unknown registry lines: {missing}"
    lg = last_green_rounds()
    with open(CHANGED_PATH) as fh:
        cfg = json.load(fh)
    changed = [k for k in cfg["changed"] if k in entries]
    # new (never-recorded) keys lead even if not declared changed
    never = [k for k in order if k not in lg and k not in changed]
    lead = changed + never
    rest = [k for k in order if k not in lead]
    idx = {k: i for i, k in enumerate(order)}
    rest.sort(key=lambda k: (lg.get(k, 10**9), idx[k]))
    new_order = lead + rest
    assert sorted(new_order) == sorted(order), "key set must not change"
    rnd = cfg.get("round", "r?")
    lines = [
        f"    # ---- driver window (first {WINDOW} entries) ----",
        f"    # {rnd} re-pin (tools/repin_window.py): new/changed keys from",
        "    # rotation_changed.json lead, then oldest-driver-recording-first",
        "    # (enforced by tools/snapshot_tail.py:check_rotation +",
        "    # tests/test_rotation.py).",
    ]
    for i, k in enumerate(new_order):
        if i == WINDOW:
            lines.append(
                "    # ---- tail (staleness-guarded; see"
                " tests/test_tail_staleness.py)"
            )
            lines.append("    # ordered oldest-driver-recording-first.")
        lines.append(entries[k])
    new_src = (
        head
        + "REGISTRY: dict[str, tuple"
        + block[: open_brace + 1]
        + "\n"
        + "\n".join(lines)
        + block[close:]
    )
    with open(QUERIES_PATH, "w") as f:
        f.write(new_src)
    print(f"re-pinned: window head = {new_order[:3]} ... tail head = "
          f"{new_order[WINDOW:WINDOW+3]} ({len(new_order)} keys)")


if __name__ == "__main__":
    main()
