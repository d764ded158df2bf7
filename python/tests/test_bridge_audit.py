"""Static audit: the Python operator modules are wrappers, not mirrors.

Every public function of ``graft.pipeline`` and ``graft.temporal`` must
reach the JVM through ``graft._bridge`` (a ``_pl()`` or ``_jvm()`` call)
and must not build its own PySpark plan. The only exceptions are the
pinned Python-only operators below, each without a Scala operator that
takes its arguments. A new Scala operator therefore gets a wrapper; a
PySpark re-implementation fails here. No Spark session is needed.
"""

import ast
import os

import pytest

GRAFT = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "graft")

PYTHON_ONLY = {
    "pipeline": {
        "hll_overlap": "q_hll_overlap composes pl_hll_* inline in "
                       "SparkEntry; there is no Scala operator",
        "vad_segments": "q_vad composes it inline in SparkEntry; there is "
                        "no Scala operator",
        "hard_negatives_with_cells": "takes pre-assigned cells; "
                                     "Similarity.hardNegatives fits its "
                                     "own IVF cells",
    },
    "temporal": {
        "seasonality_profile": "q_seasonality composes it inline in "
                               "SparkEntry; there is no Scala operator",
        "seasonal_anomaly": "q_seasonal_anomaly composes it inline in "
                            "SparkEntry; there is no Scala operator",
    },
}

BRIDGE_ENTRIES = {"_pl", "_jvm"}
PYSPARK_PLAN = {"F", "Window"}
BRIDGE_HELPERS = {"_jvm", "_pl", "_seq", "_long_array", "_option",
                  "_option_long", "_jc", "_wrap", "_bridge"}


def _module(name):
    with open(os.path.join(GRAFT, name + ".py")) as f:
        return ast.parse(f.read())


def _functions(tree):
    return [n for n in tree.body if isinstance(n, ast.FunctionDef)]


def _called(fn):
    return {n.func.id for n in ast.walk(fn)
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)}


def _names(fn):
    return {n.id for n in ast.walk(fn) if isinstance(n, ast.Name)}


def _bridge_imports(tree):
    return {a.name for n in tree.body if isinstance(n, ast.ImportFrom)
            and n.module == "graft._bridge" for a in n.names}


@pytest.mark.parametrize("mod", ["pipeline", "temporal"])
def test_public_functions_wrap_scala_operators(mod):
    tree = _module(mod)
    assert _bridge_imports(tree) & BRIDGE_ENTRIES, \
        f"graft.{mod} must import its JVM entry from graft._bridge"
    public = [f for f in _functions(tree) if not f.name.startswith("_")]
    bridged = {f.name for f in public if _called(f) & BRIDGE_ENTRIES}
    python_only = {f.name for f in public} - bridged
    assert python_only == set(PYTHON_ONLY[mod]), (
        "public functions that do not call the Scala operator through "
        "graft._bridge must be exactly the pinned Python-only list; "
        f"unexpected: {sorted(python_only - set(PYTHON_ONLY[mod]))}, "
        "no longer Python-only: "
        f"{sorted(set(PYTHON_ONLY[mod]) - python_only)}")
    mirrors = sorted(f.name for f in _functions(tree)
                     if f.name not in PYTHON_ONLY[mod]
                     and _names(f) & PYSPARK_PLAN)
    assert not mirrors, f"wrappers build PySpark plans: {mirrors}"


def test_streaming_uses_the_shared_bridge():
    tree = _module("streaming")
    private = sorted(f.name for f in _functions(tree)
                     if f.name.startswith("_"))
    assert not private, f"streaming.py keeps private helpers: {private}"
    assert not BRIDGE_HELPERS & {
        t.id for n in tree.body if isinstance(n, ast.Assign)
        for t in n.targets if isinstance(t, ast.Name)}
    assert {"_jvm", "_wrap"} <= _bridge_imports(tree)
    unbridged = sorted(f.name for f in _functions(tree)
                       if "_jvm" not in _called(f))
    assert not unbridged, f"streaming wrappers off the bridge: {unbridged}"
