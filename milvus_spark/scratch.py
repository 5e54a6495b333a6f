"""Process-owned scratch dirs.

Suite queries and tests materialize collections/WAL stages under
``_scratch``. Cleanup must never delete another live session's dirs, so
every dir created here carries a ``p<pid>_`` ownership token and
``cleanup_own()`` removes ONLY the calling process's dirs — safe to run
while other sessions (pytest, check.py, bench) are active concurrently.
Shared per-SF stores (fp16_store, streamsess_store, …) are keyed dirs
created outside this helper and are reclaimed by the age/count GC in
registry._gc_scratch instead.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from milvus_spark.session import PACKAGE_ROOT

# beside the package, wherever the checkout lives
SCRATCH = os.path.join(PACKAGE_ROOT, "_scratch")


def _token() -> str:
    return f"p{os.getpid()}_"


def mkdtemp(prefix: str) -> str:
    """A scratch dir owned by this process: <prefix><pid-token><rand>."""
    os.makedirs(SCRATCH, exist_ok=True)
    return tempfile.mkdtemp(prefix=f"{prefix}{_token()}", dir=SCRATCH)


def cleanup_own() -> int:
    """Remove every scratch dir this process created; returns the count."""
    if not os.path.isdir(SCRATCH):
        return 0
    tok = _token()
    n = 0
    for entry in os.listdir(SCRATCH):
        if tok in entry:
            shutil.rmtree(os.path.join(SCRATCH, entry), ignore_errors=True)
            n += 1
    return n
