"""Exact money arithmetic on 64-bit integers (plans/common.py).

``units`` must equal the unscaled value of ``CAST(c AS DECIMAL(18,s))``
on every row of every (table, column, scale) the registry reads, and
``lsum``'s two-limb accumulator must equal Python's exact ``Decimal``
sum.  The AST guard keeps per-row ``BigDecimal`` work (a decimal cast
inside a sum, or a product of decimal casts) out of the TPC-H modules.
"""

from __future__ import annotations

import ast
import os
import random
from decimal import Decimal

import pytest
from pyspark.sql import Window, functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from mental_health_bigdata_project_spark.plans.common import (
    davg, dsum, lsum, units)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PLANS = os.path.join(ROOT, "mental_health_bigdata_project_spark", "plans")

# every (table, column, scale) that reaches ``units`` from a registry
# query, directly or through dsum/davg
COLUMNS = {
    "lineitem": [("l_quantity", 2), ("l_extendedprice", 2),
                 ("l_discount", 2), ("l_discount", 4), ("l_tax", 2)],
    "orders": [("o_totalprice", 2)],
    "customer": [("c_acctbal", 2)],
    "events": [("value", 2)],
}
SCALES = ["sf0.001", "sf0.01", "sf0.1"]


def _sf(sf_dir: str, name: str) -> str:
    """The sibling scale-factor directory ``name`` of the test data."""
    path = os.path.join(os.path.dirname(sf_dir), name)
    if not os.path.isdir(path):
        pytest.skip(f"no {name} testdata")
    return path


def _unscaled(c, scale: int):
    return (c.cast(f"decimal(18,{scale})") * (10 ** scale)).cast("long")


@pytest.mark.parametrize("sf", SCALES)
@pytest.mark.parametrize("table", sorted(COLUMNS))
def test_units_equal_decimal_cast_on_every_row(spark, sf_dir, sf, table):
    path = os.path.join(_sf(sf_dir, sf), f"{table}.parquet")
    df = spark.read.parquet(path)
    checks = [F.count_if(~units(c, s).eqNullSafe(_unscaled(F.col(c), s)))
              .alias(f"{c}@{s}") for c, s in COLUMNS[table]]
    row = df.agg(*checks).first().asDict()
    assert row == {k: 0 for k in row}


@pytest.mark.parametrize("sf", SCALES)
def test_units_of_rounded_computed_double_equal_decimal_cast(spark, sf_dir,
                                                            sf):
    """q9's supply cost is a computed double rounded to cents first."""
    part = spark.read.parquet(os.path.join(_sf(sf_dir, sf), "part.parquet"))
    cost = F.round(F.lit(0.6) * F.col("p_retailprice"), 2)
    assert part.filter(units(cost, 2) != _unscaled(cost, 2)).count() == 0


# doubles whose binary value sits just inside a half-cent tie: the cast
# rounds the shortest decimal string HALF_UP (away from zero), raw units
# the binary value
BELOW_TIE = [1.005, 1.015, 0.145, 0.285, -1.005, -2.675]


def _one_col(spark, values):
    schema = StructType([StructField("x", DoubleType())])
    return spark.createDataFrame([(v,) for v in values], schema)


def test_units_edge_doubles(spark):
    values = [0.0, -0.0, None, -0.01, -1.25, -999.85, 0.29, 104999.91,
              9999999999.99, -9999999999.99]
    rows = (_one_col(spark, values)
            .select(units("x", 2).alias("u"),
                    _unscaled(F.col("x"), 2).alias("d"))
            .collect())
    assert [r.u for r in rows] == [r.d for r in rows]
    assert rows[2].u is None
    assert rows[6].u == 29          # 0.29 * 100 = 28.999999999999996


def test_round_first_makes_below_tie_doubles_agree(spark):
    rows = (_one_col(spark, BELOW_TIE)
            .select(units("x", 2).alias("raw"),
                    units(F.round("x", 2), 2).alias("rounded"),
                    _unscaled(F.col("x"), 2).alias("d"))
            .collect())
    assert all(r.raw != r.d for r in rows)
    assert [r.rounded for r in rows] == [r.d for r in rows]


def _sum_cases() -> list[tuple[int, int]]:
    """(group, long units) rows: limb boundaries, the per-row bound and
    random mixed signs."""
    b20, b40 = 1 << 20, 1 << 40
    edges = [0, 1, -1, b20 - 1, b20, b20 + 1, -b20, -b20 - 1, -b20 + 1,
             b40 - 1, -(b40 - 1), b40 - b20, -(b40 - b20)]
    rows = [(0, v) for v in edges]
    rows += [(1, b40 - 1 - i) for i in range(64)]            # near the bound
    rows += [(2, -(b40 - 1) + i) for i in range(64)]
    rng = random.Random(7)
    rows += [(3, rng.randrange(-b40 + 1, b40)) for _ in range(500)]
    rows += [(4, rng.randrange(-3 * b20, 3 * b20)) for _ in range(500)]
    rows += [(5, None), (5, 12345)]
    return rows


def _exact(rows, scale):
    want: dict[int, Decimal] = {}
    for g, v in rows:
        if v is not None:
            want[g] = want.get(g, Decimal(0)) + Decimal(v).scaleb(-scale)
    return want


@pytest.mark.parametrize("scale", [2, 4, 6])
def test_limb_sum_equals_exact_decimal_sum(spark, scale):
    rows = _sum_cases()
    schema = StructType([StructField("g", LongType()),
                         StructField("x", LongType())])
    df = spark.createDataFrame(rows, schema).repartition(3)
    got = {r.g: r.s for r in
           df.groupBy("g").agg(lsum(F.col("x"), scale).alias("s")).collect()}
    assert got == _exact(rows, scale)


def test_limb_sum_over_a_window_equals_exact_running_sum(spark):
    rows = [(i // 50, i, v) for i, (_, v) in enumerate(_sum_cases())
            if v is not None]
    schema = StructType([StructField("g", LongType()),
                         StructField("i", LongType()),
                         StructField("x", LongType())])
    w = (Window.partitionBy("g").orderBy("i")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    got = {r.i: r.s for r in spark.createDataFrame(rows, schema)
           .select("i", lsum(F.col("x"), 2, w).alias("s")).collect()}
    want, run = {}, {}
    for g, i, v in rows:
        run[g] = run.get(g, Decimal(0)) + Decimal(v).scaleb(-2)
        want[i] = run[g]
    assert got == want


def test_all_null_group_sums_to_null(spark):
    df = _one_col(spark, [None, None])
    row = df.agg(dsum("x").alias("s"), davg("x").alias("a")).first()
    assert row.s is None and row.a is None


def test_dsum_davg_equal_decimal_cast_path(spark, sf_dir):
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    got = li.groupBy("l_returnflag").agg(
        dsum("l_extendedprice").alias("s"), davg("l_discount", 4).alias("a"))
    want = li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double").alias("s"),
        (F.sum(F.col("l_discount").cast("decimal(18,4)")).cast("double")
         / F.count("l_discount")).alias("a"))
    assert sorted(got.collect()) == sorted(want.collect())


# --- guard: no per-row BigDecimal in the TPC-H modules --------------------

GUARDED = ["relational.py", "tpch_more.py"]
# "file:line" -> one-line reason
ALLOWED: dict[str, str] = {}


def _is_decimal_cast(node: ast.AST) -> bool:
    return (isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "cast" and bool(node.args)
            and isinstance(node.args[0], ast.Constant)
            and str(node.args[0].value).startswith("decimal"))


def _has_decimal_cast(node: ast.AST) -> bool:
    return any(_is_decimal_cast(n) for n in ast.walk(node))


def test_no_decimal_cast_in_sums_or_products():
    found = []
    for name in GUARDED:
        tree = ast.parse(open(os.path.join(PLANS, name)).read())
        for node in ast.walk(tree):
            in_sum = (isinstance(node, ast.Call)
                      and isinstance(node.func, ast.Attribute)
                      and isinstance(node.func.value, ast.Name)
                      and node.func.value.id == "F"
                      and node.func.attr in ("sum", "avg")
                      and any(_has_decimal_cast(a) for a in node.args))
            product = (isinstance(node, ast.BinOp)
                       and isinstance(node.op, ast.Mult)
                       and _has_decimal_cast(node))
            if in_sum or product:
                found.append(f"{name}:{node.lineno}")
    assert [f for f in found if f not in ALLOWED] == []
