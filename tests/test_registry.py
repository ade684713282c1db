"""The driver contract's registry shape: every ``queries()`` row has a
DuckDB oracle and the row set never shrinks (the driver counts drops;
implementations may merge behind a name, rows may not). Spark-free:
building the dicts starts no session."""

from __future__ import annotations

import __spark_entry__ as entry_mod


def test_every_row_has_an_oracle_and_none_is_dropped():
    names = list(entry_mod.queries())
    assert len(names) == len(set(names)) == 169
    assert set(names) == set(entry_mod.oracle_sql())
