"""One run directory under a checkpoint root — the durable-marker and
lineage bookkeeping shared by ``engine.CheckpointStore`` (selection
iterations) and ``corpus.CorpusPipeline`` (chain stages).

Layout: ``{root}/{run_id}/`` holds the owner's data files, one
``<name>.COMPLETE``-style marker per durable unit (written tmp + rename,
so a marker is either absent or whole) and ``metrics.jsonl`` (one JSON
record per line, appended).

The bookkeeping is DRIVER-side ``os`` I/O, so the root must be a
POSIX-visible path (NFS / Lustre / a fuse-mounted object store). A URI
root is rejected: ``os.makedirs("s3://b/ckpt")`` would silently create a
local ``./s3:/b/ckpt`` while Spark writes the data remotely — the worst
case being a 10-hour run whose markers never reach shared storage. A
Hadoop-FileSystem marker backend is the seam if a raw URI root is ever
needed.
"""

from __future__ import annotations

import json
import os

__all__ = ["RunDir"]


class RunDir:
    def __init__(self, root: str, run_id: str):
        if "://" in root:
            raise ValueError(
                f"root must be a POSIX-visible path, got URI {root!r} — "
                "mount the store (s3fs/NFS) or point root at shared disk"
            )
        self.dir = os.path.join(root, run_id)
        os.makedirs(self.dir, exist_ok=True)

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def mark(self, name: str, payload: str = "ok") -> None:
        """Write marker ``name`` atomically (tmp + rename)."""
        tmp = self.path(name) + ".tmp"
        with open(tmp, "w") as f:
            f.write(payload)
        os.replace(tmp, self.path(name))

    def marked(self, name: str) -> bool:
        return os.path.exists(self.path(name))

    def unmark(self, name: str) -> None:
        """Remove a (possibly stale) marker; absent is fine."""
        try:
            os.remove(self.path(name))
        except FileNotFoundError:
            pass

    def log_metrics(self, record: dict) -> None:
        with open(self.path("metrics.jsonl"), "a") as f:
            f.write(json.dumps(record) + "\n")

    def metrics(self) -> list[dict]:
        path = self.path("metrics.jsonl")
        if not os.path.exists(path):
            return []
        with open(path) as f:
            return [json.loads(line) for line in f if line.strip()]
