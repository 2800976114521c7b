"""Driver-built frames (``local_frame``, ``pin_local``) and the session's
engine conf."""

from __future__ import annotations

import datetime as dt
import os
import subprocess
import sys
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from ml_feature_store_pipeline_spark.functions import local_frame, pin_local

_DEBUG_FLAG = "spark.python.sql.dataFrameDebugging.enabled"

SCHEMA = (
    "id string, x double, f float, ts timestamp, d decimal(12,3), "
    "arr array<float>, s struct<a: int, b: string>, n long"
)
ROWS = [
    ("a", float("nan"), 1.5, dt.datetime(2024, 1, 2, 3, 4, 5, 123456), Decimal("1.234"),
     [1.5, None, float("nan")], (1, "x"), 7),
    (None, None, None, None, None, None, None, None),
    ("b", -0.0, float("-inf"), dt.datetime(1960, 1, 1), Decimal("-99999.999"), [], (None, None), -(2**62)),
    ("0042", 1e300, 3.0, dt.datetime(2262, 4, 11, 23, 47, 16), Decimal("0.001"), [0.0], None, 0),
]


def _leaves(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_local_frame_is_a_local_relation_and_round_trips(spark):
    df = local_frame(spark, ROWS, SCHEMA)
    plan = _leaves(df)
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
    # repr: NaN != NaN, and -0.0 == 0.0 would hide a lost sign
    assert repr(df.collect()) == repr(spark.createDataFrame(ROWS, SCHEMA).collect())
    assert [tuple(r) for r in df.select("id", "n").collect()] == [(r[0], r[7]) for r in ROWS]


def test_local_frame_of_no_rows_keeps_the_schema(spark):
    df = local_frame(spark, [], SCHEMA)
    assert df.collect() == []
    assert df.schema == spark.createDataFrame([], SCHEMA).schema
    assert "LocalRelation" in _leaves(df)


def test_pin_local_is_a_local_relation_with_the_same_rows(spark):
    src = spark.createDataFrame(ROWS, SCHEMA).withColumn("k", F.length("id"))
    pinned = pin_local(src)
    plan = _leaves(pinned)
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
    assert pinned.schema == src.schema
    assert repr(pinned.collect()) == repr(src.collect())


_SESSIONS = {
    "get_spark": (
        "from ml_feature_store_pipeline_spark.session import get_spark\n"
        "spark = get_spark('flag-check', shuffle_partitions=1)\n"
    ),
    # the driver harness's path: its own session, then apply_engine_conf
    "apply_engine_conf": (
        "from pyspark.sql import SparkSession\n"
        "from ml_feature_store_pipeline_spark.session import apply_engine_conf\n"
        "spark = SparkSession.builder.master('local[1]').config('spark.ui.enabled', 'false')"
        ".getOrCreate()\n"
        "apply_engine_conf(spark)\n"
    ),
}


@pytest.mark.parametrize("session", sorted(_SESSIONS))
def test_columns_are_built_without_call_site_capture(session):
    """PySpark captures each Column call's call site while the debugging
    flag is on, and the capture imports IPython where it is installed. A
    fresh process whose session comes from ``get_spark``, or through
    ``apply_engine_conf`` before its first Column, reports the flag false
    and builds Columns without importing IPython."""
    code = (
        "import sys\n"
        + _SESSIONS[session]
        + "from pyspark.sql import functions as F\n"
        "from pyspark.errors.utils import is_debugging_enabled\n"
        "spark.range(3).select((F.col('id') + 1).alias('x')).collect()\n"
        f"print('RESULT', spark.conf.get('{_DEBUG_FLAG}'), 'IPython' in sys.modules, "
        "is_debugging_enabled())\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="512m")
    env.pop("SPARK_GRAFT_MASTER", None)
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, env=env, capture_output=True, text=True, timeout=300
    )
    result = [line for line in out.stdout.splitlines() if line.startswith("RESULT")]
    assert result == ["RESULT false False False"], out.stdout + out.stderr[-2000:]
