"""``schema.array_lit``: one bulk Catalyst literal for every numeric vector,
matrix and block the operators hand to the JVM.

It must type and carry values exactly as ``F.lit(list)`` did, cost O(rows)
py4j round trips instead of several per element, and stay the only way a
numeric list literal is built in the package."""

import ast
import gc
import math
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

import clickhousedatamocker_spark
from clickhousedatamocker_spark.operators import importance as imp
from clickhousedatamocker_spark.schema import array_lit
from tests.conftest import py4j_calls

_DOUBLES = [1.5, math.nan, math.inf, -math.inf, -0.0, 0.0, 2.0**62, 5e-324]
_LONGS = [2**63 - 1, -(2**63 - 1), 2**53 + 1, -(2**53 + 1), 0]
_MATRIX = [[1.0, -0.0, math.nan], [math.inf, 2.5, -3.0]]
_BLOCK = [[[1.0, 2.0], [3.0, 4.0]], [[-0.0, math.nan], [-math.inf, 7.0]], [[8.0, 9.0], [1e300, -1e-300]]]


def _bits(value, dtype):
    return np.asarray(value, dtype=dtype).tobytes()


@pytest.mark.parametrize(
    "values, elem",
    [(_DOUBLES, "double"), (_LONGS, "bigint"), (_MATRIX, "double"), (_BLOCK, "double")],
    ids=["float64", "int64", "2d", "3d"],
)
def test_array_lit_matches_f_lit_list(spark, values, elem):
    one = spark.range(1)
    want = one.select(F.lit(values).alias("v"))
    got = one.select(array_lit(values, elem).alias("v"))
    assert got.schema == want.schema  # nullable=false, containsNull=false at every level
    assert got.schema.fields[0].nullable is False
    dtype = "<f8" if elem == "double" else "<i8"
    assert _bits(got.first()["v"], dtype) == _bits(want.first()["v"], dtype) == _bits(values, dtype)


def test_array_lit_takes_numpy_and_rejects_ragged_or_scalar(spark):
    one = spark.range(1)
    got = one.select(array_lit(np.arange(6, dtype=np.int32).reshape(2, 3), "bigint").alias("v"))
    assert got.schema.simpleString() == "struct<v:array<array<bigint>>>"
    assert got.first()["v"] == [[0, 1, 2], [3, 4, 5]]
    with pytest.raises(ValueError):
        array_lit([[1.0, 2.0], [3.0]])
    with pytest.raises(ValueError):
        array_lit(1.0)


def test_array_lit_round_trips_do_not_grow_with_length(spark):
    """A vector costs a fixed 8 py4j commands whatever its length; the
    per-element literal made more than 4096 for 4096 elements."""
    counts = []
    for _ in range(3):  # the least of 3: a first lookup or a release can land in one
        gc.collect()  # release JVM objects garbage from earlier work
        with py4j_calls(spark) as window:
            array_lit(np.ones(4096))
        counts.append(window.calls)
    assert min(counts) < 20, counts


def test_dsir_score_builds_its_model_in_bulk(spark):
    """Building the scored frame costs the same py4j round trips for a
    4096-bucket model as for a 16-bucket one. The per-element literal made
    several calls per bucket (over 16,000 more at 4096); what is left is
    the fixed cost of building the hashing and fold columns (~400 calls)."""
    rng = np.random.default_rng(7)
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")

    def build_calls(num_buckets):
        target = list(rng.dirichlet(np.ones(num_buckets)))
        background = list(rng.dirichlet(np.ones(num_buckets)))
        counts = []
        for _ in range(3):  # the least of 3: a collection can land in one
            gc.collect()  # release JVM objects garbage from earlier work
            with py4j_calls(spark) as window:
                scored = imp.dsir_score(docs, target, background)
            counts.append(window.calls)
        assert scored.schema["importance"].dataType.simpleString() == "double"
        return min(counts)

    small, large = build_calls(16), build_calls(4096)
    assert large - small < 50, (small, large)
    assert large < 1000, large


def _lit_of_list_display(tree):
    """``F.lit(...)`` / ``lit(...)`` calls whose argument is a list display
    or a list comprehension: the per-element literal build."""
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call) or not node.args:
            continue
        f = node.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        if name == "lit" and isinstance(node.args[0], (ast.List, ast.ListComp)):
            yield node.lineno


def test_no_numeric_list_literal_outside_array_lit():
    package = os.path.dirname(clickhousedatamocker_spark.__file__)
    found = []
    for d, _, files in os.walk(package):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(d, f)
                with open(path, encoding="utf-8") as fh:
                    tree = ast.parse(fh.read(), path)
                found += [f"{os.path.relpath(path, package)}:{n}" for n in _lit_of_list_display(tree)]
    assert found == [], "use schema.array_lit instead: " + ", ".join(found)
