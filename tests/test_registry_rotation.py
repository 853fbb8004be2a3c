"""Registry-order guard. The correctness battery samples the FIRST
``DRIVER_PREFIX_LEN`` ``queries()`` keys; the intended prefix, which ends
at ``_LAST_PREFIX_ENTRY``, must fit that cap, or its last entries get no
battery row."""

import __spark_entry__ as entry_mod

#: the last entry of the sampled prefix; keep in sync with the
#: ``queries()`` section comments when reordering.
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
    assert len(entry_mod.queries()) == 66


def test_queries_and_oracles_align():
    assert set(entry_mod.queries()) == set(entry_mod.oracle_sql())
