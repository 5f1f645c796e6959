"""Inventory of the ``PNS_*`` environment knobs the library reads.

Every knob is a second code path to keep correct, so adding one has to be a
deliberate change: update ``KNOBS`` here and the table in README.md.
"""

from __future__ import annotations

import pathlib
import re

import polars_numba_spark

KNOBS = {
    "PNS_CASEFOLD",
    "PNS_CHECKPOINT_DIR",
    "PNS_CHECKPOINT_MODE",
    "PNS_SCAN_PARALLELIZE",
}

# os.environ.get("X") / os.environ["X"] / os.getenv("X") / environ.get('X', ...)
_ENV_READ = re.compile(
    r"""(?:environ\s*(?:\.get\s*\(|\[)|getenv\s*\()\s*['"](PNS_\w+)['"]"""
)


def test_pns_env_reads_match_inventory():
    root = pathlib.Path(polars_numba_spark.__file__).parent
    found = {
        m.group(1)
        for path in root.rglob("*.py")
        for m in _ENV_READ.finditer(path.read_text(encoding="utf-8"))
    }
    assert found == KNOBS
