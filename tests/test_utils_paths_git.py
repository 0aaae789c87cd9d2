"""utils.paths / utils.git contract tests (A31/A32), mirroring
/root/reference/test/utils/ test_get_code_file_path_* and
test_get_current_git_branch_*.
"""

import subprocess
from pathlib import Path
from unittest import mock

import pytest

from jorvik_spark.utils.git import GitUtilsError, get_current_git_branch
from jorvik_spark.utils.paths import get_codefile_path


def test_get_codefile_path_skips_engine_and_libs():
    """The bottom-most frame is pytest's runner; the engine package,
    pyspark, and site-packages are all excluded — the attributed file must
    be THIS test file (the 'user code' driving the call)."""
    path = get_codefile_path()
    assert path.endswith("test_utils_paths_git.py")


def test_get_codefile_path_never_attributes_engine_internals():
    assert "jorvik_spark" not in get_codefile_path()


def test_get_current_git_branch_success():
    with mock.patch("subprocess.run") as m:
        m.return_value = mock.Mock(stdout="feature/x\n")
        assert get_current_git_branch() == "feature/x"
        assert m.call_args.kwargs["cwd"]  # resolved from the code file, not ""


def test_get_current_git_branch_subprocess_error_raises():
    """A failed git client raises (reference git.py:43 GitUtilsError) —
    it must not silently produce an empty isolation context."""
    with mock.patch(
        "subprocess.run", side_effect=subprocess.SubprocessError("boom")
    ):
        with pytest.raises(GitUtilsError, match="boom"):
            get_current_git_branch()


@pytest.mark.skipif(
    not (Path(__file__).resolve().parents[1] / ".git").exists(),
    reason="the tree is not a git checkout (GitUtilsError is the designed outcome)",
)
def test_get_current_git_branch_real_repo():
    """In a git checkout the real subprocess path returns its actual
    branch (non-empty, no whitespace)."""
    branch = get_current_git_branch()
    assert branch == branch.strip()
