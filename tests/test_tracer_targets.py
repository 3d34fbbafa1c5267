"""The traced benchmark mode wraps layer functions by name
(``perfbench/tracing.py`` TARGETS, resolved through ``owner.__dict__``).
A renamed or deleted target would otherwise fail only inside a
``--trace 1`` run; this resolves every one the way ``Tracer.install``
does, without installing anything."""

from __future__ import annotations

import importlib

import pytest

from perfbench.tracing import TARGETS


@pytest.mark.parametrize(
    "module,attr", [(m, a) for m, a, _ in TARGETS],
    ids=[f"{m.rsplit('.', 1)[-1]}:{a}" for m, a, _ in TARGETS],
)
def test_trace_target_resolves(module, attr):
    owner = importlib.import_module(module)
    if "." in attr:
        cls, attr = attr.split(".")
        owner = getattr(owner, cls)
    assert callable(owner.__dict__[attr])
