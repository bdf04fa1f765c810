"""CI guard: COVERAGE.md's "oracle `name`" claims cannot silently diverge
from driver-recorded results.

Round 1 shipped 77 registered queries whose oracle status was a claim with
no driver CORRECTNESS row (the driver checks only the first 50 registered
names per round).  This guard makes that state impossible to reintroduce:
every oracle claim must be (a) green in some recorded CORRECTNESS_r*.json
or (b) inside the current first-50 window, which ``correctness_window``
derives from those files.  Anything else fails CI.
"""

from __future__ import annotations

import glob
import json
import re
from pathlib import Path

from anomaly_detection_in_time_series_data_spark import queries as q

REPO = Path(__file__).resolve().parents[1]


def _recorded_green() -> set[str]:
    green: set[str] = set()
    for f in sorted(glob.glob(str(REPO / "CORRECTNESS_r*.json"))):
        for name, row in json.load(open(f)).items():
            if row.get("hash_match"):
                green.add(name)
    return green


def _claimed_oracles() -> set[str]:
    text = (REPO / "COVERAGE.md").read_text()
    return set(re.findall(r"oracle `([a-z0-9_]+)`", text))


def test_every_claimed_oracle_is_registered_with_sql():
    claimed = _claimed_oracles()
    assert claimed, "COVERAGE.md parse produced no oracle claims"
    unregistered = sorted(claimed - set(q.QUERIES))
    missing_sql = sorted(n for n in claimed & set(q.QUERIES) if n not in q.ORACLE)
    assert not unregistered, f"claimed but not registered: {unregistered}"
    assert not missing_sql, f"claimed but no oracle_sql entry: {missing_sql}"


def test_every_claimed_oracle_is_verified_or_scheduled():
    claimed = _claimed_oracles() & set(q.QUERIES)
    green = _recorded_green()
    window = set(list(q.QUERIES)[:50])
    orphaned = sorted(n for n in claimed if n not in green and n not in window)
    assert not orphaned, (
        "oracle claims with no green row and not in the current "
        f"correctness window: {orphaned}"
    )


def test_impl_changed_keys_are_registered_oracles():
    """A typo in _IMPL_CHANGED would silently leave a changed query out of
    the window; every key must name a registered oracle-bearing query."""
    unknown = sorted(n for n in q._IMPL_CHANGED if n not in q.ORACLE)
    assert not unknown, f"_IMPL_CHANGED names without oracle SQL: {unknown}"


def test_correctness_window_leads_the_registry():
    """The rotation IS the round-to-round correctness mechanism: the
    window must be 50 distinct oracle-bearing names and the registry must
    actually start with it (a re-registration after _rotate_front would
    silently shrink coverage)."""
    window = q.correctness_window(REPO)
    assert len(window) == 50, f"window must be exactly 50, got {len(window)}"
    assert len(set(window)) == 50, "duplicates in the correctness window"
    no_sql = sorted(n for n in window if n not in q.ORACLE)
    assert not no_sql, f"window entries without oracle SQL: {no_sql}"
    assert list(q.QUERIES)[:50] == window, (
        "QUERIES does not start with correctness_window() — was something "
        "registered after _rotate_front()?"
    )


def test_correctness_window_ordering(tmp_path, monkeypatch):
    """No green row first, then live _IMPL_CHANGED entries (an entry
    expires once a green row newer than its round lands), newest entry
    first, then oldest newest-green first; other ties keep registration
    order."""
    names = ["a", "b", "c", "d", "e", "f", "g"]
    monkeypatch.setattr(q, "ORACLE", {n: "SELECT 1" for n in names})
    monkeypatch.setattr(q, "_IMPL_CHANGED", {"d": 1, "e": 3, "f": 2})
    assert q.correctness_window(tmp_path) == names  # no files

    def ok(match: bool) -> dict:
        return {"hash_match": match}

    rounds = {
        1: {"a": ok(True), "c": ok(True), "d": ok(True), "g": ok(False)},
        2: {"b": ok(True), "f": ok(True), "g": ok(False)},
        3: {"a": ok(True), "e": ok(True), "f": ok(True)},
    }
    for rnd, rows in rounds.items():
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))
    (tmp_path / "CORRECTNESS_notes.json").write_text("{}")  # not a round file
    # g: never green; e and d: impl-changed after their newest green row
    # (live; e is the newer entry, although d registered first); f:
    # changed after r2 but green again in r3 (expired); then newest green
    # round 1 (c), 2 (b), 3 (a, f in registration order).
    assert q.correctness_window(tmp_path) == ["g", "e", "d", "c", "b", "a", "f"]
    # an overflowing window defers the oldest change, not the newest
    monkeypatch.setattr(q, "_WINDOW", 2)
    assert q.correctness_window(tmp_path) == ["g", "e"]


def test_correctness_window_holds_the_newest_live_changes():
    """Live _IMPL_CHANGED entries can outnumber the window's room (what
    the never-green names leave of its 50): the window must then hold the
    newest min(room, live) entries, so a new change is never the one
    silently deferred."""
    green: dict[str, int] = {}
    for f in glob.glob(str(REPO / "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"CORRECTNESS_r(\d+)\.json$", f).group(1))
        for name, row in json.load(open(f)).items():
            if row.get("hash_match"):
                green[name] = max(rnd, green.get(name, 0))
    never = [n for n in q.ORACLE if n not in green]
    live = [n for n, rnd in q._IMPL_CHANGED.items() if n in green and green[n] <= rnd]
    room = max(0, 50 - len(never))
    newest = live[::-1][: min(room, len(live))]
    window = q.correctness_window(REPO)
    assert window[len(never) : len(never) + len(newest)] == newest
    assert set(newest) <= set(list(q.QUERIES)[:50])


def test_bench_headliners_are_registered_queries():
    """A typo in bench.py's HEADLINE list would crash the driver's bench
    run (KeyError at the first missing name) — fail here in seconds
    instead."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    from anomaly_detection_in_time_series_data_spark.queries import QUERIES

    missing = [n for n in bench.HEADLINE if n not in QUERIES]
    assert not missing, f"bench headliners not in QUERIES: {missing}"
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE), "duplicate headliner"


def test_no_shadowed_query_registrations():
    """@query registration is latest-wins: a duplicated name silently
    REPLACES the earlier query while its green CORRECTNESS history keeps
    pointing at the name — round 9 caught four such collisions
    (k_anonymity_audit, zipf_rank_frequency, l_diversity_audit,
    referential_integrity_audit). Pin decorator count == registry size."""
    import re
    from collections import Counter

    src = (
        REPO
        / "anomaly_detection_in_time_series_data_spark"
        / "queries.py"
    ).read_text()
    names = [
        a or b
        for a, b in re.findall(
            r'^@query\(\s*$\n\s+"([a-z0-9_]+)"|^@query\("([a-z0-9_]+)"',
            src,
            re.M,
        )
    ]
    dups = sorted(n for n, c in Counter(names).items() if c > 1)
    assert not dups, f"duplicate @query names (latest silently wins): {dups}"
    assert len(names) == len(q.QUERIES), (
        f"{len(names)} @query decorators but {len(q.QUERIES)} registered — "
        "a name is being shadowed"
    )
