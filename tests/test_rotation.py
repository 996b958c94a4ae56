"""The oldest-recorded-first rotation rule (VERDICT r9 directive):
pure-python — reads the registry ORDER and the driver CORRECTNESS
artifacts, no Spark session. A failure here means the 50-entry
window was composed by hand against the rule; fix the window, don't
edit the rule."""

import importlib.util
import os

import pytest

pytestmark = pytest.mark.driver  # driver-facing gate (see conftest)

spec = importlib.util.spec_from_file_location(
    "snapshot_tail", os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools", "snapshot_tail.py"))
snapshot_tail = importlib.util.module_from_spec(spec)
spec.loader.exec_module(snapshot_tail)


def test_window_is_fifty():
    from sarfile_analyzer_ng_spark.queries import REGISTRY

    assert len(REGISTRY) >= snapshot_tail.WINDOW


def test_rotation_rule_holds():
    errs = snapshot_tail.check_rotation()
    assert errs == [], "\n".join(errs)


def test_changed_keys_are_in_window():
    import json

    from sarfile_analyzer_ng_spark.queries import REGISTRY

    keys = list(REGISTRY)[: snapshot_tail.WINDOW]
    with open(snapshot_tail.CHANGED_PATH) as fh:
        changed = json.load(fh)["changed"]
    missing = [k for k in changed if k not in keys]
    assert missing == [], missing


def test_freshly_recorded_window_awaits_repin(monkeypatch):
    """VERDICT r10 What's-wrong #1: the driver landing CORRECTNESS_rN
    for the current window must NOT flip the suite red. Simulate the
    post-driver state — every window key green at a brand-new round —
    and assert rule (b)'s awaiting-re-pin carve-out keeps it clean."""
    from sarfile_analyzer_ng_spark.queries import REGISTRY

    real = snapshot_tail.last_green_rounds()
    fresh = dict(real)
    for k in list(REGISTRY)[: snapshot_tail.WINDOW]:
        fresh[k] = max(real.values()) + 1  # driver just recorded rN+1
    monkeypatch.setattr(snapshot_tail, "last_green_rounds", lambda: fresh)
    assert snapshot_tail.check_rotation() == []
