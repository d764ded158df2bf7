"""The two public wrappers no other test calls, on fixtures whose columns
differ in value and type, so a swapped or misplaced argument changes the
answer instead of passing unnoticed."""

import pytest
from pyspark.sql.types import LongType


def test_conformal_quantile_order_statistic(spark):
    from graft.pipeline import conformal_quantile
    # score is a permutation of 1..10 plus one NULL (excluded); id holds
    # 1001.. so reading the wrong column gives a value out of range
    rows = [(1000 + i, s, f"d{s}")
            for i, s in enumerate([7, 3, 9, 1, 5, 8, 2, 6, 4, 10], 1)]
    rows.append((1011, None, "dn"))
    df = spark.createDataFrame(rows, "id long, score int, doc string")
    # n = 10, alpha = 0.2: k = ceil(11 * 0.8) = 9, qhat = 9th smallest
    r = conformal_quantile(df, "score", 200).collect()
    assert [(x["n"], x["k"], x["qhat"]) for x in r] == [(10, 9, 9)]
    r = conformal_quantile(df, "score", 500).collect()[0]
    assert (r["n"], r["k"], r["qhat"]) == (10, 6, 6)
    # alpha below 1/(n+1): k = 11 > n, the threshold is +inf (NULL row)
    r = conformal_quantile(df, "score", 1).collect()[0]
    assert (r["n"], r["k"], r["qhat"]) == (None, None, None)
    with pytest.raises(ValueError):
        conformal_quantile(df, "score", 1000)


def test_epoch_micros_per_column_type(spark):
    from graft.temporal import epoch_micros
    df = spark.sql(
        "SELECT TIMESTAMP '2024-01-01 00:00:01' AS ts, "
        "TIMESTAMP_NTZ '2024-01-02 00:00:00' AS ntz, "
        "CAST(42 AS INT) AS n, 'x' AS s")
    out = df.select(epoch_micros(df, "ts").alias("ts_us"),
                    epoch_micros(df, "ntz").alias("ntz_us"),
                    epoch_micros(df, "n").alias("n_us"))
    assert all(f.dataType == LongType() for f in out.schema.fields)
    assert tuple(out.collect()[0]) == (1704067201000000, 1704153600000000,
                                       42)
    with pytest.raises(Exception, match="column s: expected TIMESTAMP"):
        epoch_micros(df, "s")
