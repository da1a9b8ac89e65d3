"""Smoke-run every examples/*.py main(spark) — mirrors the reference's
examples/ surface (a reference user's scripts have a working analog)."""

from __future__ import annotations

import importlib.util
import os
import pathlib

import pytest
from conftest import REFERENCE_ROOT

# examples/compat_api.py replays the reference README on its own datasets
_COMPAT_API_ABSENT = [
    p for p in (os.path.join(REFERENCE_ROOT, "examples/datasets", name)
                for name in ("university_fd.csv", "inventory_afd.csv"))
    if not os.path.exists(p)
]


def _example(path):
    if path.stem != "compat_api":
        return path
    return pytest.param(path, marks=pytest.mark.skipif(
        bool(_COMPAT_API_ABSENT),
        reason=f"reference file absent: {', '.join(_COMPAT_API_ABSENT)}",
    ))


EXAMPLES = sorted(
    p for p in (pathlib.Path(__file__).parent.parent / "examples").glob("*.py")
)


@pytest.mark.parametrize("path", [_example(p) for p in EXAMPLES],
                         ids=lambda p: p.stem)
def test_example_runs(spark, path, capsys):
    spec = importlib.util.spec_from_file_location(f"example_{path.stem}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.main(spark)
    out = capsys.readouterr().out
    assert out.strip()  # every example narrates its result
