"""The two-phase commit shared by the file sinks
(``filings.save_filings``, ``shards.write_token_shards``).

Tasks write each file through a pid-suffixed tmp file and ``os.replace``
(a zombie duplicate attempt never leaves a torn file behind a committed
name) and report what they wrote; after the job succeeds the driver
publishes ``<root>/_MANIFEST`` the same way.  Readers key on the
manifest, so files of failed or orphaned attempts stay invisible, and
two writers pointed at the same root each publish one complete
manifest — last writer wins, never a mixed file.
"""

from __future__ import annotations

import os

MANIFEST = "_MANIFEST"


def write_atomic(path: str, data: bytes | str) -> None:
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "wb") as fh:
        fh.write(data.encode() if isinstance(data, str) else data)
    os.replace(tmp, path)


def commit(root: str, lines) -> None:
    """Publish ``lines`` (one manifest entry each) as ``<root>/_MANIFEST``."""
    os.makedirs(root, exist_ok=True)
    write_atomic(os.path.join(root, MANIFEST), "".join(ln + "\n" for ln in lines))
