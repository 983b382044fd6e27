"""The harness scripts at the repository root and what they leave on disk."""

from __future__ import annotations

import ast
import fnmatch
from pathlib import Path, PurePosixPath

import scale_check

REPO = Path(__file__).resolve().parent.parent


def _engine_scratch_globs() -> tuple[str, ...]:
    """``ENGINE_SCRATCH`` of ``perfbench/run.py``, read without running it."""
    tree = ast.parse((REPO / "perfbench" / "run.py").read_text())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "ENGINE_SCRATCH" for t in node.targets
        ):
            return tuple(ast.literal_eval(node.value))
    raise AssertionError("perfbench/run.py has no ENGINE_SCRATCH")


def test_scale_check_stage_survives_perfbench_cleanup():
    """perfbench removes every path its ENGINE_SCRATCH globs match before a
    run; the 10x stage, or a directory holding it, must not be one of them,
    or each perfbench run forces a stage rebuild."""
    globs = _engine_scratch_globs()
    assert globs
    stage = PurePosixPath(scale_check.STAGE)
    hit = [
        (str(path), pattern)
        for path in (stage, *stage.parents)
        for pattern in globs
        if fnmatch.fnmatchcase(str(path), pattern)
    ]
    assert not hit, f"perfbench/run.py clears the scale_check stage: {hit}"
