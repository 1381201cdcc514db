"""Static guard against dangling citations: a docstring, comment or
README line that names a repo file which does not exist sends the
reader nowhere, and a deleted file's citations outlive it silently.

Two kinds of name are checked in the package sources, the test files
and README.md (globs allowed, ``:line`` suffixes ignored):

- a path whose first segment is a top-level directory of the repo,
  such as ``fairy_spark/operators/pipeline.py`` or ``perfbench/``;
- a root-level upper-case document such as ``SCALE.md`` or
  ``BENCH_r*.json``.
"""

from __future__ import annotations

import re
import time
from pathlib import Path

import fairy_spark

ROOT = Path(fairy_spark.__file__).parent.parent

# A name is not glued to a longer path or word on its left, so an
# absolute path's inner segments are never read as repo paths.
_LEFT = r"(?<![\w./*-])"
_ROOT_DOC = re.compile(_LEFT + r"([A-Z][A-Z0-9]+(?:_[\w*]*)?\.(?:md|json|txt|xml))\b")


def _sources() -> list[Path]:
    return [
        *sorted((ROOT / "fairy_spark").rglob("*.py")),
        *sorted((ROOT / "tests").glob("*.py")),
        ROOT / "README.md",
    ]


def _exists(name: str) -> bool:
    if "*" in name:
        return any(ROOT.glob(name.rstrip("/")))
    return (ROOT / name).exists()


def dangling(text: str, top_dirs: set[str]) -> list[str]:
    """Names in ``text`` that the two rules check and that do not exist
    under the repo root."""
    tops = "|".join(map(re.escape, sorted(top_dirs)))
    paths = re.findall(_LEFT + rf"((?:{tops})/[\w.*/-]*)", text)
    names = [m.rstrip(".") for m in paths + _ROOT_DOC.findall(text)]
    return [m for m in names if not _exists(m)]


def test_dangling_is_detected():
    top = {"fairy_spark", "tests"}
    # built by concatenation so this file's own scan does not see them
    bad = ["fairy_spark/" + "nope.py", "tests/" + "x_*.py", "NOPE" + "_r9.json"]
    text = f"see {bad[0]}:12 and {bad[1]}, {bad[2]}; /abs/{bad[1]}"
    assert dangling(text, top) == bad
    ok = "fairy_spark/queries/ and tests/test_*.py, README.md, fairy_spark/engine.py."
    assert dangling(ok, top) == []


def test_cited_repo_paths_exist():
    t0 = time.perf_counter()
    top = {p.name for p in ROOT.iterdir() if p.is_dir() and not p.name.startswith(".")}
    found = {
        path.relative_to(ROOT).as_posix(): missing
        for path in _sources()
        if (missing := dangling(path.read_text(), top))
    }
    assert found == {}, found
    assert time.perf_counter() - t0 < 1.0
