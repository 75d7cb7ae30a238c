"""Launcher for scripts that must run from a cwd without the package.

Python workers import from their own path, which holds the Spark
process's cwd, not the driver's ``sys.path``. A driver that imports
this package from a checkout while its cwd is elsewhere only works
if every stage ships the package's functions by value. The launcher
reproduces that setting: a fresh interpreter with ``PYTHONPATH``
unset and ``cwd`` outside the checkout. The script receives the
checkout's path as ``sys.argv[1]`` and must put it on ``sys.path``
itself, as ``__spark_entry__.py`` does.
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def run_without_the_package(
    script: str, cwd: Path, *args: str, timeout: int = 600
) -> subprocess.CompletedProcess:
    """Run ``script`` as ``python -c script REPO *args`` in ``cwd`` on a
    2-core, 1 GB local session; return the finished process."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    return subprocess.run(
        [sys.executable, "-c", script, str(REPO), *args],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=timeout,
    )
