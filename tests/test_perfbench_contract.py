"""The package names the benchmark reaches into still resolve.

perfbench/workloads.py wraps layer functions by name for its traced run
(`PATCH_POINTS`; `run.py --trace 1` fails with an AttributeError when one
is gone) and its staged probes import package functions inside their
methods. A refactor that moves or deletes one of them breaks the
benchmark without failing anything else here. No workload is run.
"""

from __future__ import annotations

import importlib
import inspect
import os
import sys

import pytest

PERFBENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"
)
PKG = "psyndex2linkeddata_spark"


@pytest.fixture(scope="module")
def workloads():
    sys.path.insert(0, PERFBENCH)
    try:
        yield importlib.import_module("workloads")
    finally:
        sys.path.remove(PERFBENCH)


def _resolve(module: str, attr: str):
    return getattr(importlib.import_module(module), attr)


def test_patch_points_resolve(workloads):
    missing = []
    for module, attr, _span in workloads.PATCH_POINTS:
        try:
            _resolve(module, attr)
        except (ImportError, AttributeError) as e:
            missing.append(f"{module}.{attr}: {e}")
    assert not missing


def test_probe_imports_resolve(workloads):
    names = [
        ("extract.parser", "extract_records"),
        ("extract.parser", "filter_bad_ids"),
        ("operators.upsert", "clean_genres"),
        ("plans.enrich", "genre_ancestor_closure"),
        ("plans.enrich", "TRIPLE_COLS"),
        ("emit.arrow", "emit_triples_arrow"),
        ("plans.pipeline", "build_triples"),
        ("jobs.convert", "load_authorities"),
        ("operators.components", "connected_components"),
        ("operators.components", "canonicalize_uris"),
    ] + [
        ("plans.enrich", fn)
        for fn in workloads.ENRICH_CONCEPTS + workloads.ENRICH_ORGS
    ]
    for module, attr in names:
        assert _resolve(f"{PKG}.{module}", attr) is not None, (module, attr)
    finalize = _resolve(f"{PKG}.plans.pipeline", "finalize")
    params = inspect.signature(finalize).parameters
    assert {"barrier", "genre_cleanup"} <= set(params)
