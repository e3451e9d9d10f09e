"""Export and maintenance jobs.

The maintenance jobs (`incremental_export`, `rollup_maintain`,
`join_view_maintain`) each keep one JSON state file at their output
root and read and write it only through `_load_state`/`_save_state`.
"""

from __future__ import annotations

import json
import os
import tempfile
from pathlib import Path


def _load_state(path: Path, default: dict) -> dict:
    """The JSON state at `path`, or `default` before the first save."""
    if path.exists():
        return json.loads(path.read_text())
    return default


def _save_state(path: Path, state: dict) -> None:
    """Replace the state file at `path` atomically: dump to a temp file
    beside it, then os.replace (atomic on POSIX). The temp file never
    outlives the call, also when the dump raises."""
    fd, tmp = tempfile.mkstemp(dir=str(path.parent), prefix=".", suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as fh:
            json.dump(state, fh, indent=2, sort_keys=True, default=str)
            fh.write("\n")
        os.replace(tmp, str(path))
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
