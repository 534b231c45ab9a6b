"""``dsum`` fails loudly when a value does not fit its decimal type."""

from __future__ import annotations

import pytest
from pyspark.errors import ArithmeticException

from omop_dump_to_parquet_spark.functions import dsum


def test_dsum_overflow_raises_named_error(spark):
    # 1e17 needs 18 integer digits; decimal(18,2) holds 16.
    df = spark.createDataFrame([(1e17,)], "x double")
    with pytest.raises(ArithmeticException) as err:
        df.agg(dsum("x")).collect()
    assert err.value.getCondition() == "NUMERIC_VALUE_OUT_OF_RANGE.WITH_SUGGESTION"
