"""The query registry's guards and the driver façade's ordering.

No JVM is started: registering and ordering queries only touches Python
objects.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

from casf_spark.queries import Registry


def _body(spark, sf):
    return None


def test_duplicate_name_raises():
    reg = Registry()
    reg.query("a", oracle="SELECT 1 AS x")(_body)
    with pytest.raises(ValueError, match="declared twice"):
        reg.query("a", oracle="SELECT 2 AS x")(_body)
    assert reg.oracles == {"a": "SELECT 1 AS x"}


@pytest.mark.parametrize("oracle", [None, "", "  \n"])
def test_missing_or_empty_oracle_raises(oracle):
    reg = Registry()
    with pytest.raises(ValueError, match="oracle SQL is missing or empty"):
        reg.query("a", oracle=oracle)
    assert not reg.queries


def test_ordered_puts_window_first_and_checks_it():
    reg = Registry()
    for n in ("a", "b", "c", "d"):
        reg.query(n, oracle=f"SELECT '{n}' AS x")(_body)
    assert reg.ordered(["c", "a"]) == ["c", "a", "b", "d"]
    with pytest.raises(ValueError, match="not registered"):
        reg.ordered(["c", "zz"])
    with pytest.raises(ValueError, match="repeated"):
        reg.ordered(["c", "c"])


def test_driver_window_leads_queries_and_oracles():
    import __spark_entry__ as E

    names = list(E.queries())
    assert len(E.DRIVER_WINDOW) == len(set(E.DRIVER_WINDOW)) == 50
    assert names[:50] == E.DRIVER_WINDOW
    assert len(names) == len(set(names)) == 250
    assert list(E.oracle_sql()) == names


def test_library_import_does_not_load_queries():
    code = ("import casf_spark, sys; "
            "assert not any(m.startswith('casf_spark.queries') "
            "for m in sys.modules)")
    subprocess.run([sys.executable, "-c", code], check=True,
                   cwd=Path(__file__).resolve().parent.parent)
