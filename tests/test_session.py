"""Session defaults that ``get_session``'s builder sets."""


def test_session_draws_no_console_progress(spark):
    """Stage progress bars stay off stderr, so bench and test logs carry
    only their own lines (a SparkContext conf: the builder sets it)."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.ui.showConsoleProgress") == "false"
