"""Drift-proofing for the traceability docs (VERDICT r3 nit #1, r4 nit #1:
OPERATORS.md's handwritten counts went stale two rounds running).

These tests derive the authoritative numbers from the live registry and
fail whenever OPERATORS.md's header paragraph or the window bookkeeping in
``queries.py`` disagrees with it.
"""

import re
from pathlib import Path

import pytest

import __spark_entry__ as entrymod
from docprompt_spark import queries

REPO = Path(__file__).resolve().parent.parent
WINDOW = 50  # the driver's correctness window takes the first 50 names


@pytest.fixture(scope="module")
def registry_names():
    return list(entrymod.queries())


def test_operators_md_oracle_count_matches_registry(registry_names):
    text = (REPO / "OPERATORS.md").read_text()
    m = re.search(r"\((\d+)/(\d+)\) has a DuckDB", text)
    assert m, "OPERATORS.md header must state the (N/N) oracle count"
    n_queries = len(registry_names)
    reg = queries.registry()
    n_oracles = sum(1 for n in registry_names if reg[n][1] is not None)
    assert (int(m.group(1)), int(m.group(2))) == (n_oracles, n_queries), (
        f"OPERATORS.md says {m.group(0)!r} but registry has "
        f"{n_oracles}/{n_queries}"
    )


def test_operators_md_overflow_count_matches_registry(registry_names):
    text = (REPO / "OPERATORS.md").read_text()
    m = re.search(r"(\d+) overflow entries", text)
    assert m, "OPERATORS.md header must state the overflow count"
    overflow = max(0, len(registry_names) - WINDOW)
    assert int(m.group(1)) == overflow, (
        f"OPERATORS.md says {m.group(0)!r} but registry overflow is "
        f"{overflow} ({len(registry_names)} queries, {WINDOW}-slot window)"
    )


def test_low_priority_list_is_exactly_the_overflow(registry_names):
    # Every overflow name is a _LOW_PRIORITY_NAMES entry and vice versa —
    # otherwise some query silently fell out of the driver window.
    overflow = set(registry_names[WINDOW:])
    low = set(queries._LOW_PRIORITY_NAMES)
    assert overflow == low, (
        f"unexpected overflow: {sorted(overflow - low)}; "
        f"stale low-priority entries: {sorted(low - overflow)}"
    )


def test_priority_names_all_inside_window(registry_names):
    window = set(registry_names[:WINDOW])
    missing = [n for n in queries._PRIORITY_NAMES if n not in window]
    assert not missing, f"pinned queries fell out of the window: {missing}"


def test_registry_lists_have_no_stale_or_duplicate_names(registry_names):
    assert len(registry_names) == len(set(registry_names))
    all_names = set(registry_names)
    stale_pri = [n for n in queries._PRIORITY_NAMES if n not in all_names]
    stale_low = [n for n in queries._LOW_PRIORITY_NAMES if n not in all_names]
    assert not stale_pri and not stale_low, (stale_pri, stale_low)
    assert len(queries._PRIORITY_NAMES) == len(set(queries._PRIORITY_NAMES))
    assert len(queries._LOW_PRIORITY_NAMES) == len(
        set(queries._LOW_PRIORITY_NAMES)
    )


def test_every_query_has_an_oracle(registry_names):
    reg = queries.registry()
    missing = [n for n in registry_names if reg[n][1] is None]
    assert not missing, f"queries without oracle SQL: {missing}"
