"""Isolation-context providers (reference:
/root/reference/jorvik/storage/isolation_providers.py:9-99).

A provider is a zero-arg callable returning the isolation context string
(branch name, user, cluster id, …). Seven providers, registry-keyed by the
``io.jorvik.storage.isolation_provider`` Spark conf. Spark *session* config
takes precedence over Spark *context* config (quirk Q12, kept —
isolation_providers.py:36-41).
"""

from __future__ import annotations

import os
import tempfile
from typing import Callable, Optional

from pyspark.sql import SparkSession

from jorvik_spark.utils import git

CONTEXT_ENV_VAR = "JORVIK_ISOLATION_CONTEXT"


# Context values already proven filesystem-safe this process: the probe
# creates and deletes a real temp directory, and configure() runs on the
# hot write path (per ETL output + per lineage append) — re-probing the
# same branch name on every write is pure filesystem churn.
_VALIDATED_CONTEXTS: set = set()


def _validate_isolation_context(context: str) -> None:
    """The context becomes a directory path component — probe that the
    filesystem accepts it (reference isolation_providers.py:9-25).
    Memoized per context value: a name the filesystem accepted once
    cannot stop being a valid directory name within the same process.

    ``makedirs`` rather than the reference's ``mkdir``: git's dominant
    branch convention is slash-namespaced (``feature/x``), which the path
    algebra handles as nested directories — single-level ``mkdir`` would
    reject every such branch with FileNotFoundError and make the
    GIT_BRANCH provider unusable. Absolute/escaping contexts still fail
    (they resolve outside the probe dir and the commonpath check below
    catches them).
    """
    if context in _VALIDATED_CONTEXTS:
        return
    try:
        with tempfile.TemporaryDirectory() as tmp:
            target = os.path.join(tmp, context)
            if os.path.commonpath(
                [os.path.abspath(tmp), os.path.abspath(target)]
            ) != os.path.abspath(tmp):
                raise ValueError("context escapes its directory")
            os.makedirs(target)
    except (OSError, ValueError) as e:
        raise ValueError(
            f"Invalid isolation context name {context!r}: not accepted as a "
            "directory name by the filesystem."
        ) from e
    _VALIDATED_CONTEXTS.add(context)


def get_spark_config(config_key: str, default_value: Optional[str] = None) -> str:
    """Session conf beats context conf (Q12); error when neither set and no
    default given.

    The context conf is read in place with one lookup: ``getConf()`` would
    copy every SparkConf entry over py4j, and configure() reads a normally
    unset key on every write.
    """
    spark = SparkSession.getActiveSession()
    session_value = spark.conf.get(config_key, None)
    if session_value:
        return session_value
    context_value = spark.sparkContext._conf.get(config_key)
    if context_value:
        return context_value
    if default_value is not None:
        return default_value
    raise ValueError(
        f"Configuration key '{config_key}' not found in either Spark "
        "session or Spark context."
    )


def get_no_isolation_context() -> str:
    return ""


def get_isolation_context_from_env_var() -> str:
    context = os.environ.get(CONTEXT_ENV_VAR)
    if context is None:
        raise ValueError(f"Environment variable '{CONTEXT_ENV_VAR}' is not set.")
    return context


def get_isolation_context_from_spark_config() -> str:
    return get_spark_config("io.jorvik.storage.isolation_context")


def _databricks_provider(attr: str) -> Callable[[], str]:
    """Databricks notebook-context providers, gated on the runtime being
    present (reference utils/databricks.py:41-79). Raise a clear error when
    called outside Databricks rather than at registry-build time."""

    def provider() -> str:
        try:
            from jorvik_spark.utils import databricks
        except ImportError as e:  # pragma: no cover - env without databricks
            raise RuntimeError(
                f"Isolation provider requires a Databricks runtime: {e}"
            ) from e
        return getattr(databricks, attr)()

    return provider


PROVIDERS: dict[str, Callable[[], str]] = {
    "NO_ISOLATION": get_no_isolation_context,
    "DATABRICKS_GIT_BRANCH": _databricks_provider("get_active_branch"),
    "DATABRICKS_USER": _databricks_provider("get_current_user"),
    "DATABRICKS_CLUSTER": _databricks_provider("get_cluster_id"),
    "GIT_BRANCH": git.get_current_git_branch,
    "ENVIRONMENT_VARIABLE": get_isolation_context_from_env_var,
    "SPARK_CONFIG": get_isolation_context_from_spark_config,
}


def get_isolation_provider() -> Callable[[], str]:
    """Resolve the provider named by ``io.jorvik.storage.isolation_provider``
    (default NO_ISOLATION) and validate its context value."""
    name = get_spark_config(
        "io.jorvik.storage.isolation_provider", default_value="NO_ISOLATION"
    )
    try:
        provider = PROVIDERS[name]
    except KeyError:
        raise ValueError(
            f"Unknown isolation provider: {name}. Supported providers are: "
            f"{list(PROVIDERS)}."
        ) from None
    if name != "NO_ISOLATION":
        _validate_isolation_context(provider())
    return provider
