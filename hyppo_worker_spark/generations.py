"""One crash-safe commit for every table this package rewrites: write
a generation, flip a pointer, garbage-collect.

A table is a root directory holding its generation directories and one
small JSON pointer, ``_CURRENT.json``. The pointer is the single answer
to two questions — which directories make up the table now, and which
streaming batch was applied last — and only ``publish_json``
(``os.replace``) ever changes it::

    {"batch": 7, "seq": 12, "parts": {"": 12}}
    {"batch": 9, "seq": 14, "parts": {"bucket=0": 14, "bucket=3": 11}}

A whole table is the one-part case, ``<root>/g-<N>/``. A bucketed
table keeps one generation per bucket, ``<root>/bucket=<b>/g-<N>/``,
read with ``basePath=<root>``: Spark materializes the ``bucket`` column
from the directory names and prunes scans that filter on it, even with
buckets at different generations.

A commit (1) deletes everything under the root the pointer does not
reference, (2) writes generation ``seq + 1`` beside the live one and
(3) publishes the new pointer, whose batch id makes the flip the
batch's ack — there is no separate marker and no window between data
and ack. A crash before (3) leaves the old pointer: readers and the
replayed batch see the pre-batch table, and the next commit's step (1)
removes the leftovers. A crash after (3) leaves the batch acked, so
its replay is a no-op. Nothing is ever rolled back. The generation a
commit supersedes stays on disk until the next commit begins, so a
reader that resolved it before the flip can finish its scan.

This is the reference's manifest commit (data files first, then the
manifest that names them — SURVEY §2.A op 7) at directory grain; on an
object store the same pointer would be a conditional put.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

POINTER = "_CURRENT.json"


def publish_json(path: str, obj: dict) -> None:
    """Durably replace the JSON document at ``path``: write a tmp
    file, flush, fsync, then ``os.replace``. A reader sees the old or
    the new document, never a torn one — and after a power loss never
    an empty one, which an un-fsynced rename allows."""
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(obj, fh, indent=1, sort_keys=True)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)


def _remove(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path)
    else:
        os.remove(path)


class Generations:
    """The pointer-resolved generations of the table at ``root``."""

    def __init__(self, root: str) -> None:
        self.root = root

    # ---- read side -------------------------------------------------------

    def pointer(self) -> dict:
        try:
            with open(os.path.join(self.root, POINTER), encoding="utf-8") as fh:
                return json.load(fh)
        except FileNotFoundError:
            return {"batch": None, "seq": 0, "parts": {}}

    def last_batch(self) -> int | None:
        """The last streaming batch this table acked (None: never)."""
        return self.pointer()["batch"]

    def done(self, batch_id: int) -> bool:
        """True when ``batch_id`` is already applied: its replay must
        be a no-op (batch ids are monotone within one checkpoint)."""
        last = self.last_batch()
        return last is not None and batch_id <= last

    def paths(self) -> list[str]:
        """The directories that make up the table now."""
        return [
            os.path.join(self.root, part, f"g-{n}")
            for part, n in sorted(self.pointer()["parts"].items())
        ]

    def exists(self) -> bool:
        return bool(self.pointer()["parts"])

    def is_split(self) -> bool:
        """True when the table is one generation per partition value
        (the bucketed layout) rather than one whole generation."""
        return any(self.pointer()["parts"])

    def current(self) -> str:
        """The single generation directory of a whole table."""
        (path,) = self.paths()
        return path

    def read(self, spark: SparkSession) -> DataFrame:
        if self.is_split():
            return spark.read.option("basePath", self.root).parquet(
                *self.paths()
            )
        return spark.read.parquet(self.current())

    # ---- write side ------------------------------------------------------

    def _gc(self) -> dict:
        """Recovery: delete every entry under the root the pointer does
        not reference (a crashed commit's output, the generation the
        previous commit superseded). Returns the pointer."""
        ptr = self.pointer()
        os.makedirs(self.root, exist_ok=True)
        live = {(part, f"g-{n}") for part, n in ptr["parts"].items()}
        for name in os.listdir(self.root):
            if name == POINTER or ("", name) in live:
                continue
            path = os.path.join(self.root, name)
            if name not in ptr["parts"]:
                _remove(path)
                continue
            for gen in os.listdir(path):
                if (name, gen) not in live:
                    _remove(os.path.join(path, gen))
        return ptr

    def _publish(self, ptr: dict) -> None:
        os.makedirs(self.root, exist_ok=True)
        publish_json(os.path.join(self.root, POINTER), ptr)

    def ack(self, batch_id: int) -> None:
        """Ack a batch that changed nothing: republish the pointer."""
        self._publish(dict(self.pointer(), batch=batch_id))

    def commit(
        self,
        df: DataFrame,
        batch_id: int | None = None,
        partition_by: list[str] | None = None,
        *,
        split: bool = False,
    ) -> None:
        """Write ``df`` as the next generation and flip the pointer to
        it (acking ``batch_id`` when given). ``df`` may read the live
        generation: the write lands beside it.

        Whole (``split=False``): ``df`` is the complete table, written
        to ``g-<N>/`` (hive-partitioned inside it by ``partition_by``).
        Split: ``df`` holds the complete new content of every
        ``partition_by`` value it mentions; each value's directory
        becomes that part's generation, and parts ``df`` does not
        mention keep theirs. A split commit over a whole table replaces
        it (the layout migration)."""
        ptr = self._gc()
        n = ptr["seq"] + 1
        batch = ptr["batch"] if batch_id is None else batch_id
        if not split:
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(os.path.join(self.root, f"g-{n}"))
            self._publish({"batch": batch, "seq": n, "parts": {"": n}})
            return
        staging = os.path.join(self.root, f"_w-{n}")
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(staging)
        parts = {} if "" in ptr["parts"] else dict(ptr["parts"])
        for part in sorted(os.listdir(staging)):
            if "=" not in part:
                continue  # _SUCCESS and checksum files
            os.makedirs(os.path.join(self.root, part), exist_ok=True)
            os.rename(
                os.path.join(staging, part),
                os.path.join(self.root, part, f"g-{n}"),
            )
            parts[part] = n
        shutil.rmtree(staging)
        self._publish({"batch": batch, "seq": n, "parts": parts})
