"""Registry hygiene for the driver contract (__spark_entry__).

The external gate checks only the FIRST ~50 entries of ``queries()``
per round, so the rotation invariants ARE correctness infrastructure:
every query needs an oracle twin, never-driver-green queries must sort
ahead of green ones, and the never-green backlog must fit one window —
otherwise some operator silently never earns a hard-signal row."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

WINDOW = 50


def test_every_query_has_an_oracle_twin():
    qs = set(entrymod.queries())
    oracles = set(entrymod.oracle_sql())
    assert qs <= oracles, f"rows-only queries (no oracle): {sorted(qs - oracles)}"


def test_rotation_puts_never_green_first():
    green = set(entrymod._effective_green())
    names = list(entrymod.queries())
    seen_green = False
    for n in names:
        if n in green:
            seen_green = True
        else:
            assert not seen_green, (
                f"never-green query {n!r} sorts after a green one — "
                "the rotation would starve it of a driver row"
            )


def test_all_plan_caches_registered():
    """No module-level *_CACHE / *_MEMO dict beside caching.memo's own
    (and the catalog's mtime-keyed handle memo): stale_check's hermetic
    hashing and the gate-boundary cleanup clear that memo only, so a
    private memo would silently reintroduce order-dependent plan-hash
    drift and escape the input versioning."""
    from data_pipeline_who_gho_spark import caching

    entrymod.queries()  # force-import every plans module
    assert caching.unregistered_caches() == []


def test_stale_ledger_reads_as_live_state():
    """A _STALE_SINCE entry the driver has re-greened (green round >=
    stale round) is a SUCCESS state — _effective_green must read it as
    live green, and a still-stale entry as not-green.  Pruning cleared
    entries is `tools/round_open.py`'s demand (non-zero exit), NOT a
    test failure: the driver's CORRECTNESS file lands after the final
    commit, so asserting "already pruned" here left the suite red for
    the whole inter-round gap twice (VERDICT r11 #1, r12 task 1)."""
    greens = entrymod._green_rounds()
    effective = entrymod._effective_green()
    cleared, live_stale = entrymod._ledger_split(greens, entrymod._STALE_SINCE)
    for n in cleared:
        assert n in effective, (
            f"driver-re-greened ledger entry {n!r} must read as live green"
        )
    for n in live_stale:
        assert n not in effective, (
            f"still-stale ledger entry {n!r} must not count as green"
        )


def test_post_driver_regreen_reads_as_pass():
    """The exact r11/r12 failure case, as a unit: a hypothetical
    CORRECTNESS_r{N}.json lands after the final commit and re-greens a
    staled query — the ledger logic must classify it self-cleared (a
    pass), and a query greened only BEFORE its stale round must stay
    stale.  Pure-helper simulation so the test is independent of which
    CORRECTNESS files exist on disk."""
    greens = {"q_regreened": 13, "q_old_green": 11, "q_untouched": 9}
    stale = {"q_regreened": 13, "q_old_green": 12, "q_never_green": 12}
    cleared, live = entrymod._ledger_split(greens, stale)
    assert cleared == ["q_regreened"]
    assert live == ["q_never_green", "q_old_green"]


def test_never_green_backlog_fits_one_window():
    green = set(entrymod._effective_green())
    backlog = [n for n in entrymod.queries() if n not in green]
    assert len(backlog) <= WINDOW, (
        f"{len(backlog)} never-green queries exceed the ~{WINDOW}-query "
        "driver window; registering more queries now would leave some "
        "without a hard-signal row next round"
    )
