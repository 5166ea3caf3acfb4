"""The computed driver window (Spark-free: no session is started).

The driver checks the first 50 registered queries each round; the package
seats them with ``registry.driver_window`` over the committed
``CORRECTNESS_r*.json`` archives and its ``CHANGED`` map.
"""

from __future__ import annotations

import json
import math
from pathlib import Path

import columnar_aware_dedup_spark as pkg
from columnar_aware_dedup_spark import registry

ROOT = Path(__file__).resolve().parent.parent
NAMES = list(registry.QUERIES)
LATEST, NEWEST = registry.archive_state(ROOT)


def test_archive_state_reads_newest_row_per_query(tmp_path):
    assert registry.archive_state(tmp_path) == ({}, 0)
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({"a": {}, "b": {}}))
    (tmp_path / "CORRECTNESS_r03.json").write_text(json.dumps({"a": {}}))
    assert registry.archive_state(tmp_path) == ({"a": 3, "b": 1}, 3)


def test_changed_keys_are_registered_queries():
    assert set(pkg.CHANGED) <= set(NAMES), sorted(set(pkg.CHANGED) - set(NAMES))


def test_new_registration_and_changed_entry_land_in_next_window():
    fresh = max(  # checked last round, so not seated on staleness
        (q for q in NAMES if q not in pkg.CHANGED), key=lambda q: (LATEST.get(q, 0), q)
    )
    assert fresh not in registry.driver_window(NAMES, LATEST, pkg.CHANGED)
    window = registry.driver_window(
        NAMES + ["zz_new_query"], LATEST, {**pkg.CHANGED, fresh: NEWEST}
    )
    assert "zz_new_query" in window and fresh in window


def test_changed_entry_expires_after_driver_recheck():
    q = "ann_lsh_topk"
    changed = {q: NEWEST}
    assert q in registry.driver_window(NAMES, {**LATEST, q: NEWEST}, changed)
    assert q not in registry.driver_window(NAMES, {**LATEST, q: NEWEST + 1}, changed)


def test_empty_archives_seat_the_first_sorted_names():
    expected = sorted(NAMES)[:50]
    assert registry.driver_window(NAMES, {}, {}) == expected
    assert registry.driver_window(NAMES, {}, pkg.CHANGED) == expected


def test_forward_replay_rechecks_every_query_within_bound():
    """Replay 12 driver rounds from the real archives, each assumed green:
    every query is re-checked at most ceil(N/50)+1 rounds after its
    previous driver row, and no window seats a name twice."""
    bound = math.ceil(len(NAMES) / 50) + 1
    latest = dict(LATEST)
    for rnd in range(NEWEST + 1, NEWEST + 13):
        window = registry.driver_window(NAMES, latest, pkg.CHANGED)
        assert len(window) == len(set(window)) == 50
        late = sorted(
            q
            for q in NAMES
            if q not in window and latest.get(q, NEWEST) + bound <= rnd
        )
        assert not late, (rnd, late)
        latest.update((q, rnd) for q in window)
