"""CORRECTNESS_CUMULATIVE.json — the committed ledger of each query's
latest driver-green round (see scripts/merge_correctness_ledger.py).
These pins make the "every registered query has a green record" claim
checkable from the repo instead of from verdict prose."""

from __future__ import annotations

import glob
import json
import os

from etl_gcp_function_tmabrasil_spark.queries import all_queries, check_window

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LEDGER = os.path.join(REPO, "CORRECTNESS_CUMULATIVE.json")


def _ledger() -> dict:
    with open(LEDGER) as fh:
        return json.load(fh)


def test_ledger_covers_every_registered_query():
    led = _ledger()
    names = set(all_queries())
    missing = sorted(names - set(led["queries"]))
    assert not missing, f"queries with no ledger entry: {missing}"
    stale = sorted(set(led["queries"]) - names)
    assert not stale, f"ledger entries for unregistered queries: {stale}"
    assert led["n_queries"] == len(names)


def test_every_entry_is_green_or_documented():
    # each entry either points at an on-disk green artifact row, or
    # carries a note documenting the prose-sourced/pending record —
    # silence is the one thing the ledger must not contain
    led = _ledger()
    bad = []
    for name, e in led["queries"].items():
        if e.get("round") is not None:
            art = os.path.join(REPO, e["artifact"])
            if os.path.exists(art):
                with open(art) as fh:
                    row = json.load(fh)[name]
                if not (
                    row.get("rows_match")
                    and row.get("schema_match")
                    and row.get("hash_match")
                    and row.get("err") is None
                ):
                    bad.append(f"{name}: artifact row not green")
        elif not e.get("note"):
            bad.append(f"{name}: no green round and no note")
    assert not bad, bad


def test_every_on_disk_artifact_is_merged():
    # a CORRECTNESS_r*.json the ledger has not absorbed leaves the
    # derived check window unrotated: run
    # scripts/merge_correctness_ledger.py
    merged = set(_ledger()["merged_artifacts"])
    on_disk = {
        os.path.basename(p)
        for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
    }
    assert not on_disk - merged, sorted(on_disk - merged)


def test_null_round_rows_are_in_the_window():
    # a query with no green round yet must sit in the 50-entry check
    # window, so it earns its first record this round
    window = set(list(all_queries())[:50])
    led = _ledger()
    pending = [n for n, e in led["queries"].items() if e.get("round") is None]
    assert not set(pending) - window, sorted(set(pending) - window)


def test_check_window_is_exactly_fifty_unique_entries():
    # the driver checks the FIRST 50 of queries() — a 49/51-entry
    # window or a duplicate would silently shift which queries earn
    # this round's records
    window = list(all_queries())[:50]
    assert len(window) == 50, len(window)
    assert len(set(window)) == 50, "duplicate names in the check window"


def test_window_is_the_stalest_fifty_of_the_committed_ledger():
    led = _ledger()["queries"]
    window = list(all_queries())[:50]
    outside = list(all_queries())[50:]
    newest_in = max(led[n]["round"] or 0 for n in window)
    oldest_out = min(led[n]["round"] or 0 for n in outside)
    assert newest_in <= oldest_out, (newest_in, oldest_out)


def test_check_window_orders_null_then_oldest_round_in_registry_order():
    names = [f"q{i:03d}" for i in range(60)]
    ledger = {n: {"round": 9} for n in names}
    for n in ("q010", "q020", "q030"):
        ledger[n] = {"round": 5}
    for n in ("q040", "q002"):
        ledger[n] = {"round": None, "note": "registered, first check pending"}
    del ledger["q050"]  # registered without a ledger row yet
    for n in names[55:]:
        ledger[n] = {"round": 12}

    window = check_window(names, ledger)

    assert window[:3] == ["q002", "q040", "q050"]
    assert window[3:6] == ["q010", "q020", "q030"]
    rest = [n for n in names if n not in window[:6] and ledger[n]["round"] == 9]
    assert window[6:] == rest[:44]
    assert len(window) == 50 and len(set(window)) == 50
    assert set(window) <= set(names)
    assert not set(window) & set(names[55:])
    assert check_window(names, ledger) == window
    assert check_window(list(names), dict(ledger)) == window
