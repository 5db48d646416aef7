"""Every script under tools/ imports cleanly. Each guards its main(),
so importing one starts no Spark session; a tool that imports a
deleted or renamed module fails here instead of at run time."""

from __future__ import annotations

import importlib
import os

import pytest

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


@pytest.mark.parametrize(
    "name",
    sorted(f[:-3] for f in os.listdir(TOOLS) if f.endswith(".py") and f != "__init__.py"),
)
def test_tool_imports(name):
    importlib.import_module(f"tools.{name}")
