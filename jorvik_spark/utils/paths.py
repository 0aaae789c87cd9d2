"""Calling-code-file discovery (reference: /root/reference/jorvik/utils/paths.py:30-49).

The lineage log records which code file produced each write; that file is
the bottom-most stack frame that is neither library code (site-packages)
nor the test runner itself. In a notebook the stack bottoms out in the
kernel launcher (runpy), so the notebook path is resolved from the
Databricks context instead — mirroring the reference's ``is_notebook``
branch (reference paths.py:36-40).
"""

from __future__ import annotations

import inspect
import os
import re

# The engine's own install directory: excluded by PATH PREFIX, not by the
# substring "jorvik_spark" — a user's checkout at e.g.
# /home/me/jorvik_spark/demo.py is their code, not engine internals.
_ENGINE_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Library/launcher paths are excluded by path SEGMENT (surrounded by
# separators), so /home/me/pyspark_jobs/etl.py is not mistaken for the
# pyspark library itself.
_EXCLUDED_SEGMENTS = re.compile(
    r"/(site-packages|dist-packages|pyspark|pytest|_pytest|runpy\.py|"
    r"ipykernel|IPython)(/|$)"
)


def is_notebook() -> bool:
    """True inside Jupyter/Databricks-style interactive shells
    (reference paths.py:18-28)."""
    try:
        from IPython import get_ipython

        return get_ipython().__class__.__name__ != "NoneType"
    except (NameError, ImportError, AttributeError):
        return False


def get_codefile_path() -> str:
    """Best-effort path of the user code file driving the current call."""
    if is_notebook():
        from jorvik_spark.utils.databricks import (
            DatabricksUtilsError,
            get_notebook_path,
        )

        try:
            return get_notebook_path()
        except DatabricksUtilsError:
            return "Unknown notebook path"

    # No source context: only the file names are used, and reading each
    # frame's source lines costs ~10x the walk itself.
    for frame in reversed(inspect.stack(0)):
        fn = frame.filename
        if fn.startswith("<"):  # <string>, <stdin>
            continue
        if fn.startswith(_ENGINE_DIR + os.sep):
            continue
        if _EXCLUDED_SEGMENTS.search(fn.replace(os.sep, "/")):
            continue
        return fn
    return "unknown"
