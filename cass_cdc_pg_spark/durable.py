"""The one durable JSON writer of the package.

Every small JSON state file — ``KeyedTable`` commits, the incremental
view manifest, the schema registry, the change-feed follower cursor and
the rate-limiter windows — is replaced whole through
:func:`write_json`: a uniquely named tmp file beside the target, flushed
and fsync'd, then swapped in with one ``os.replace``.  A reader sees the
old document or the new one, never a torn write, and two writers never
share a tmp name.
"""

from __future__ import annotations

import json
import os
import uuid


def write_json(path: str, doc) -> None:
    """Atomically replace *path* with *doc* serialised as JSON."""
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(doc, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
