"""Every name an operator module exports through ``__all__`` must exist:
a stale export breaks ``from ... import *`` and hides a deleted operator."""

import importlib
import pkgutil

import pytest

import b_pdf_parser_spark.operators as ops

MODULES = [ops.__name__] + sorted(
    f"{ops.__name__}.{m.name}" for m in pkgutil.iter_modules(ops.__path__)
)


@pytest.mark.parametrize("name", MODULES)
def test_operator_exports_resolve(name):
    mod = importlib.import_module(name)
    missing = [n for n in getattr(mod, "__all__", []) if not hasattr(mod, n)]
    assert not missing, f"{name}.__all__ names missing: {missing}"
