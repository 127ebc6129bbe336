"""The driver contract's registries agree: every query has an oracle and
every oracle a query (no Spark job runs)."""

import importlib.util
import os

ENTRY = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "__spark_entry__.py")


def _entry_module():
    spec = importlib.util.spec_from_file_location("spark_entry", ENTRY)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_queries_and_oracles_have_equal_keys():
    mod = _entry_module()
    assert set(mod.queries()) == set(mod.oracle_sql())
