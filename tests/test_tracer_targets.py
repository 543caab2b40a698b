"""The benchmark tracer (``perfbench/spans.py``) wraps functions by the names
their callers import them under; a renamed import would make
``Tracer.install`` fail with ``AttributeError``. Every wrapped
``(module, name)`` pair, and the ``write_family`` it replaces in
``plans.pipeline``, must resolve."""

from __future__ import annotations

import importlib

import pytest

from perfbench.spans import WRAPPED

TARGETS = [pair for pairs in WRAPPED.values() for pair in pairs] + [
    ("etdtransform_spark.plans.pipeline", "write_family")
]


@pytest.mark.parametrize(
    "module,name", TARGETS, ids=[f"{m}.{n}" for m, n in TARGETS]
)
def test_wrapped_name_resolves(module, name):
    assert callable(getattr(importlib.import_module(module), name))
