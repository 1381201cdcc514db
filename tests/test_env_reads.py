"""Static guard against environment-variable knobs: the package reads
the environment only in config.py (EngineConfig's env overlay and the
warehouse) and once for FAIRY_SPARK_IO_DIR, the deployment path of
query scratch output. A behaviour switch read from the environment is
an option no test or benchmark sets."""

from __future__ import annotations

import ast
from pathlib import Path

import fairy_spark

PKG = Path(fairy_spark.__file__).parent


def _env_read_lines(path: Path) -> list[int]:
    """Lines that touch os.environ / os.getenv (also as bare names
    imported from os)."""
    names = {"environ", "environb", "getenv", "getenvb"}
    return sorted(
        node.lineno
        for node in ast.walk(ast.parse(path.read_text()))
        if (isinstance(node, ast.Attribute) and node.attr in names)
        or (isinstance(node, ast.Name) and node.id in names)
    )


def test_env_reads_only_in_config_and_io_root():
    found = {
        path.relative_to(PKG).as_posix(): lines
        for path in sorted(PKG.rglob("*.py"))
        if (lines := _env_read_lines(path))
    }
    assert set(found) <= {"config.py", "queries/sources_io.py"}, found
    (line,) = found["queries/sources_io.py"]
    src = (PKG / "queries" / "sources_io.py").read_text().splitlines()
    assert "FAIRY_SPARK_IO_DIR" in src[line - 1]
