"""Registry-rotation arithmetic guard (round-5 advice: the r5 prefix
silently held 52 entries, so its last two never got a driver row). The
driver's correctness battery samples the FIRST ``DRIVER_PREFIX_LEN``
``queries()`` keys; the docstring tiers before the slot-51 marker must
actually fit the cap."""

import __spark_entry__ as entry_mod

#: the last entry of the round-6 driver prefix (tier B's final item); keep
#: in sync with the queries() tier comments when rotating.
_LAST_PREFIX_ENTRY = "grouped_median"


def test_prefix_fits_driver_cap():
    names = list(entry_mod.queries())
    prefix_end = names.index(_LAST_PREFIX_ENTRY) + 1
    assert prefix_end <= entry_mod.DRIVER_PREFIX_LEN == 50, (
        f"intended prefix has {prefix_end} entries > cap "
        f"{entry_mod.DRIVER_PREFIX_LEN}; entries past slot 50 get no driver row"
    )


def test_all_queries_present():
    # rotation must never drop a query (a disappeared query = regression)
    assert len(entry_mod.queries()) == 74


def test_queries_and_oracles_align():
    assert set(entry_mod.queries()) == set(entry_mod.oracle_sql())
