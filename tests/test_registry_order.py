"""Pins on the registry ordering contract (r11).

The driver checks the FIRST ~50 registry entries only, and `_load`
reorders by `_PRIORITY` with `rank.get(name, tail)` — so a misspelled
or stale `_PRIORITY` entry does not error, it silently drops the name
out of the driver window and promotes whatever followed it. These
pins turn that silent failure mode into a pytest red.
"""

from __future__ import annotations

from airflow_baseball_spark import registry


def test_priority_names_all_exist_in_registry():
    qs = registry.queries()
    missing = [n for n in registry._PRIORITY if n not in qs]
    assert not missing, f"_PRIORITY entries not in registry: {missing}"


def test_priority_is_exactly_the_driver_window():
    """_PRIORITY declares the 50-slot driver window and nothing more;
    queries past it follow registration order. A hand-ranked tail
    re-grown behind the window fails here."""
    assert len(registry._PRIORITY) == 50


def test_priority_has_no_duplicates():
    seen: set[str] = set()
    dups = []
    for n in registry._PRIORITY:
        if n in seen:
            dups.append(n)
        seen.add(n)
    assert not dups, f"duplicate _PRIORITY entries: {dups}"


def test_driver_window_is_priority_prefix():
    """The first 50 registry names (the driver's window) must be
    exactly _PRIORITY[:50]: the 4-slot panel then 46 rotation
    slots. If this fails after an intentional rotation, the swap
    left a name out of _PRIORITY rather than reordering it."""
    names = list(registry.queries())
    assert len(names) == 552
    assert names[:50] == registry._PRIORITY[:50]
    assert names[0] == "park_factor_flagship"
    assert names[1:4] == [
        "probe_const_control",
        "probe_hugeint_cast",
        "probe_dup_keys",
    ]


def test_every_registered_query_has_oracle():
    """552/552 oracle-paired is a standing claim in the round docs;
    pin it so a rows-only registration cannot slip in unnoticed."""
    qs = registry.queries()
    sqls = registry.oracle_sql(raw=True)
    unpaired = sorted(set(qs) - set(sqls))
    assert not unpaired, f"queries without oracles: {unpaired}"
