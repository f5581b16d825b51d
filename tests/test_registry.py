"""The query registry loads every query module with plain imports: a
module that fails to import fails the run instead of silently dropping
its queries from the bench and the oracle."""

from __future__ import annotations

import sys

import pytest

import skoltexter_by_ai_spark.plans as plans_pkg
from skoltexter_by_ai_spark.plans import registry


def test_query_module_import_error_propagates(monkeypatch):
    broken = "skoltexter_by_ai_spark.plans.olap_queries"
    registry.all_queries()  # every module registered once
    monkeypatch.setattr(registry, "_LOADED", False)
    monkeypatch.delattr(plans_pkg, "olap_queries")
    # A None entry makes the next import of the module raise ImportError.
    monkeypatch.setitem(sys.modules, broken, None)
    with pytest.raises(ImportError, match="olap_queries"):
        registry.all_queries()
