"""Plan-shape regressions for the DSIR operators: the bucket→ratio table
broadcasts onto the feature pass, selection is TakeOrdered (no window, no
global sort), and nothing in the hot path drops to Python."""

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _docs(spark, n=30):
    return spark.createDataFrame(
        [(i, f"w{i % 5} w{(i + 1) % 5} w{(i + 2) % 5} w{i % 3} x{i} y z",
          "en", f"s{i % 3}", 20) for i in range(n)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_dsir_weights_broadcast_ratio_no_python(spark):
    from linkgraph.pipeline.dsir import dsir_log_weights

    p = _plan(dsir_log_weights(_docs(spark), "s0", n_buckets=64))
    # the ≤ n_buckets-row log-ratio table must broadcast onto the doc
    # feature pass — a sort-merge join here would shuffle the corpus on
    # bucket a second time
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_dsir_select_takeordered_no_window(spark):
    from linkgraph.pipeline.dsir import dsir_select

    p = _plan(dsir_select(_docs(spark), "s0", n=5, n_buckets=64))
    assert "TakeOrderedAndProject" in p
    assert "Window" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p

