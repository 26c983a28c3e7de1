"""Source audits of the engine package; no Spark needed."""

from __future__ import annotations

import ast
import os
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# (file, enclosing function) -> (calls, why a Python-list relation is fine
# there). Classic PySpark ships a Python list to the JVM through a PythonRDD,
# so reading it starts Python workers; that is a cost only off the hot path.
CREATE_DATAFRAME_ALLOWED = {
    ("marmot_spark/operators/dedup.py", "build_dedup_index"):
        (1, "one meta row (shingle/hash/band parameters) written once per index build"),
    ("marmot_spark/operators/similarity.py", "kmeans_codebook"):
        (2, "n_cells k-means centroids per round, fitted on the driver; the IVF index reads them"),
    ("marmot_spark/functions/binarize.py", "fit_vocab"):
        (1, "the fitted vocabulary index, built once per fit on the driver"),
}


def _create_dataframe_calls() -> Counter:
    """(file, outermost enclosing function) -> number of createDataFrame calls."""
    calls: Counter = Counter()

    def visit(node, rel, func):
        if func is None and isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ):
            calls[(rel, func)] += 1
        for child in ast.iter_child_nodes(node):
            visit(child, rel, func)

    for dirpath, _, files in os.walk(os.path.join(ROOT, "marmot_spark")):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                rel = os.path.relpath(path, ROOT)
                with open(path) as f:
                    visit(ast.parse(f.read(), rel), rel, None)
    return calls


def test_create_dataframe_only_off_the_hot_path():
    """Every ``createDataFrame`` call in the engine is on the allowlist with
    its reason, so a new Python-list relation on an operator hot path (as
    the as-of boundary relation once was) fails here."""
    calls = _create_dataframe_calls()
    allowed = {site: n for site, (n, _) in CREATE_DATAFRAME_ALLOWED.items()}
    assert dict(calls) == allowed
