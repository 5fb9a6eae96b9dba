"""Importing one operator module loads only what that module needs.

Every pandas worker that unpickles a function of ``operators.sessions``
(``sessionize_capped``, the ``applyInPandasWithState`` stream, the legacy
UDF) imports the package first, and the CLI imports it for ``--help``; no
package ``__init__`` may pull in the unrelated operator families.
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
PKG = "commerce_sessionization_spark"
UNRELATED = tuple(
    f"{PKG}.operators.{m}" for m in ("multimodal", "graph", "similarity", "dedup")
)


def _imported(*args: str) -> set[str]:
    """Module names a fresh interpreter imports while running ``args``."""
    env = dict(os.environ, PYTHONPATH=str(ROOT))
    out = subprocess.run(
        [sys.executable, "-X", "importtime", *args],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return {
        line.rsplit("|", 1)[1].strip()
        for line in out.stderr.splitlines()
        if line.startswith("import time:") and "|" in line
    }


@pytest.mark.parametrize(
    "args",
    [("-c", f"import {PKG}.operators.sessions"), ("-m", PKG, "--help")],
    ids=["operators.sessions", "cli-help"],
)
def test_unrelated_operator_families_stay_unimported(args):
    mods = _imported(*args)
    assert f"{PKG}.operators.sessions" in mods
    assert not mods & set(UNRELATED)
