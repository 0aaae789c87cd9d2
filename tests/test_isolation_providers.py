"""Provider registry + config-precedence tests, mirroring
/root/reference/test/storage/test_isolation_providers.py
(test_get_spark_config_* :?, test_validate_isolation_context_*,
test_get_isolation_provider_*).
"""

import os

import pytest

from jorvik_spark.storage.isolation_providers import (
    CONTEXT_ENV_VAR,
    PROVIDERS,
    _validate_isolation_context,
    get_isolation_context_from_env_var,
    get_isolation_provider,
    get_spark_config,
)

KEY = "io.jorvik.test.config_key"


@pytest.fixture
def clean_conf(spark):
    yield
    for k in (KEY, "io.jorvik.storage.isolation_provider"):
        try:
            spark.conf.unset(k)
        except Exception:
            pass


def test_get_spark_config_session_only(spark, clean_conf):
    spark.conf.set(KEY, "from-session")
    assert get_spark_config(KEY) == "from-session"


def test_get_spark_config_default_value(spark, clean_conf):
    assert get_spark_config(KEY, default_value="fallback") == "fallback"


def test_get_spark_config_both_empty(spark, clean_conf):
    with pytest.raises(ValueError, match=KEY):
        get_spark_config(KEY)


def test_get_spark_config_session_beats_context(spark, clean_conf):
    """Q12: session conf wins over context conf. Context conf is immutable
    after startup, so the context side is exercised with a key the session
    also sets — precedence shows as the session value being returned."""
    spark.conf.set(KEY, "session-wins")
    # spark.sparkContext.getConf() has no such key; set session then read.
    assert get_spark_config(KEY) == "session-wins"


def test_get_spark_config_context_only(spark, clean_conf):
    """Q12's second step: a key the context conf has and the session conf
    lacks comes from the context, and a session value still wins."""
    context_conf = spark.sparkContext._jsc.sc().conf()
    context_conf.set(KEY, "from-context")
    try:
        assert get_spark_config(KEY) == "from-context"
        spark.conf.set(KEY, "session-wins")
        assert get_spark_config(KEY) == "session-wins"
    finally:
        context_conf.remove(KEY)


def test_validate_isolation_context_valid():
    _validate_isolation_context("feature-branch_1.2")


def test_validate_isolation_context_invalid():
    with pytest.raises(ValueError, match="Invalid isolation context"):
        _validate_isolation_context("bad/" + "x" * 300)


def test_provider_registry_names():
    assert set(PROVIDERS) == {
        "NO_ISOLATION",
        "DATABRICKS_GIT_BRANCH",
        "DATABRICKS_USER",
        "DATABRICKS_CLUSTER",
        "GIT_BRANCH",
        "ENVIRONMENT_VARIABLE",
        "SPARK_CONFIG",
    }


def test_get_isolation_provider_default(spark, clean_conf):
    provider = get_isolation_provider()
    assert provider() == ""  # NO_ISOLATION


def test_get_isolation_provider_unknown(spark, clean_conf):
    spark.conf.set("io.jorvik.storage.isolation_provider", "NOPE")
    with pytest.raises(ValueError, match="Unknown isolation provider"):
        get_isolation_provider()


def test_env_var_provider(spark, clean_conf):
    os.environ[CONTEXT_ENV_VAR] = "env-ctx"
    try:
        assert get_isolation_context_from_env_var() == "env-ctx"
        spark.conf.set("io.jorvik.storage.isolation_provider", "ENVIRONMENT_VARIABLE")
        assert get_isolation_provider()() == "env-ctx"
    finally:
        del os.environ[CONTEXT_ENV_VAR]
    with pytest.raises(ValueError, match=CONTEXT_ENV_VAR):
        get_isolation_context_from_env_var()
