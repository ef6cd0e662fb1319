"""One crash-safe commit for every table this package writes durably:
write a segment, flip a pointer, garbage-collect.

A table is a root directory holding its segment directories and one
small JSON pointer, ``_CURRENT.json``: the single answer to which
segments make up the table now and which streaming batch was applied
last. Only ``publish_json`` (``os.replace``) ever changes it::

    {"batch": 7, "seq": 12, "segments": ["g-11", "g-12"]}
    {"batch": 9, "seq": 14, "segments": ["bucket=0/g-14", "bucket=3/g-11"]}

A write (1) deletes everything under the root the pointer does not
reference, (2) writes segment ``N = seq + 1`` into ``<root>/g-<N>/`` —
moving each partition (``bucket=3``) or named frame (``corpus``)
directory it fills to ``<root>/<dir>/g-<N>/``, so a ``basePath`` read
prunes partitions across any number of segments — and (3) publishes
the new pointer: a commit's replaces the old segments (of its named
frame only, when it names one; split: those of the partitions it
wrote), an append's keeps them all, a replace's keeps none. The pointer's
batch id makes the flip the batch's ack — no separate marker, no
window between data and ack. A crash before (3) leaves the old
pointer: readers and the replayed batch see the pre-batch table, never
their own half-written rows, and the next write's step (1) removes the
leftovers. A crash after (3) leaves the batch acked, so its replay is
a no-op. Nothing is ever rolled back; a superseded segment stays on
disk until the next write begins, so a reader that resolved it before
the flip can finish its scan.

This is the reference's manifest commit (data files first, then the
manifest that names them — SURVEY §2.A op 7) at directory grain; on an
object store the same pointer would be a conditional put.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

POINTER = "_CURRENT.json"
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def publish(path: str, text: str) -> None:
    """Durably replace the file at ``path`` with ``text``: write a tmp
    file, flush, fsync, then ``os.replace``. A reader sees the old or
    the new file, never a torn one — and after a power loss never an
    empty one, which an un-fsynced rename allows."""
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(text)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)


def publish_json(path: str, obj: dict) -> None:
    publish(path, json.dumps(obj, indent=1, sort_keys=True))


def _remove(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path)
    else:
        os.remove(path)


def _frame_of(segment: str) -> str:
    """``corpus/g-3``, ``cells/cell=1/g-3`` -> their frame; ``g-3``,
    ``bucket=1/g-3`` -> the table itself ('')."""
    head = segment.split(os.sep, 1)[0]
    return "" if head == segment or "=" in head else head


def _footer_schema(segment_dir: str) -> dict | None:
    """The Spark schema (JSON) of a segment's data columns, from one
    part file's footer on the driver; None if Spark did not write it."""
    part = min(f for f in os.listdir(segment_dir) if f.startswith("part-"))
    meta = pq.read_schema(os.path.join(segment_dir, part)).metadata or {}
    return json.loads(meta[SPARK_SCHEMA_KEY]) if SPARK_SCHEMA_KEY in meta else None


def stage(df: DataFrame, out: str, frame: str) -> DataFrame:
    """Write ``df`` as the ``frame`` of the segment being filled at
    ``out`` and return it read back from those bytes, so what the fill
    computes next is computed against what the flip publishes. The
    read takes ``df``'s schema and starts no inference job."""
    path = os.path.join(out, frame)
    df.write.parquet(path)
    return df.sparkSession.read.schema(df.schema).parquet(path)


class Generations:
    """The pointer-resolved segments of the table at ``root``."""

    def __init__(self, root: str) -> None:
        self.root = root

    # ---- read side -------------------------------------------------------

    def pointer(self) -> dict:
        try:
            with open(os.path.join(self.root, POINTER), encoding="utf-8") as fh:
                return json.load(fh)
        except FileNotFoundError:
            return {"batch": None, "seq": 0, "segments": []}

    def last_batch(self) -> int | None:
        """The last streaming batch this table acked (None: never)."""
        return self.pointer()["batch"]

    def done(self, batch_id: int) -> bool:
        """True when ``batch_id`` is already applied: its replay must
        be a no-op (batch ids are monotone within one checkpoint)."""
        last = self.last_batch()
        return last is not None and batch_id <= last

    def paths(self, frame: str = "") -> list[str]:
        """The segments that make up the table (or its ``frame``) now."""
        return self._paths(self.pointer(), frame)

    def _paths(self, ptr: dict, frame: str) -> list[str]:
        prefix = os.path.join(frame, "") if frame else ""
        return [os.path.join(self.root, s) for s in ptr["segments"] if s.startswith(prefix)]

    def exists(self) -> bool:
        return bool(self.pointer()["segments"])

    def is_split(self) -> bool:
        """True when the segments sit under partition directories."""
        return any(os.path.dirname(s) for s in self.pointer()["segments"])

    def read(self, spark: SparkSession, frame: str = "") -> DataFrame:
        """The table (or its ``frame``) now, with the schema recorded at
        the flip: no inference job (partition columns are inferred from
        their directory names). A pointer with no schema infers."""
        ptr = self.pointer()
        paths = self._paths(ptr, frame)
        base = os.path.join(self.root, frame) if frame else self.root
        if not paths:
            raise FileNotFoundError(f"{base}: nothing committed")
        reader = spark.read.option("basePath", base)
        schema = ptr.get("schemas", {}).get(frame)
        if schema is not None:
            reader = reader.schema(T.StructType.fromJson(schema))
        return reader.parquet(*paths)

    # ---- write side ------------------------------------------------------

    def _gc(self) -> dict:
        """Recovery: delete every entry under the root the pointer does
        not reference (a crashed write's output, the segments the
        previous write superseded). Returns the pointer."""
        ptr = self.pointer()
        live = set(ptr["segments"]) | {POINTER}
        above = set()  # the partition and frame dirs holding segments
        for seg in live:
            while seg := os.path.dirname(seg):
                above.add(seg)

        def sweep(rel: str) -> None:
            for name in os.listdir(os.path.join(self.root, rel)):
                sub = os.path.join(rel, name)
                if sub in above:
                    sweep(sub)
                elif sub not in live:
                    _remove(os.path.join(self.root, sub))

        os.makedirs(self.root, exist_ok=True)
        sweep("")
        return ptr

    def _publish(self, ptr: dict) -> None:
        os.makedirs(self.root, exist_ok=True)
        publish_json(os.path.join(self.root, POINTER), ptr)

    def ack(self, batch_id: int) -> None:
        """Ack a batch that changed nothing: republish the pointer."""
        self._publish(dict(self.pointer(), batch=batch_id))

    def _write(
        self, fill: Callable[[str], None], batch_id: int | None, keep: str,
        frame: str = "",
    ) -> None:
        """GC, ``fill`` ``<root>/g-<N>/``, lift the dirs it filled, flip.
        ``keep``: which old segments of ``frame`` (default: the whole
        table) stay — ``"none"``, ``"parts"`` (of partitions not
        written) or ``"all"``; other frames' segments always stay."""
        ptr = self._gc()
        n = ptr["seq"] + 1
        gen = f"g-{n}"
        out = os.path.join(self.root, gen)
        fill(out)
        filled = sorted(  # the directories holding parquet parts
            os.path.relpath(d, out)
            for d, _, fs in os.walk(out)
            if any(f.startswith("part-") for f in fs)
        )
        if filled == ["."]:
            new = [gen]
        else:
            new = [os.path.join(d, gen) for d in filled]
            for d, seg in zip(filled, new):
                os.makedirs(os.path.join(self.root, d), exist_ok=True)
                os.rename(os.path.join(out, d), os.path.join(self.root, seg))
            shutil.rmtree(out)
        written = {os.path.dirname(s) for s in new} | {""}
        scope = os.path.join(frame, "") if frame else ""
        mine = [s for s in ptr["segments"] if s.startswith(scope)]
        kept = [s for s in ptr["segments"] if not s.startswith(scope)] + {
            "none": [],
            "parts": [s for s in mine if os.path.dirname(s) not in written],
            "all": mine,
        }[keep]
        schemas = dict(ptr.get("schemas", {}))
        for f, seg in {_frame_of(s): s for s in new}.items():
            schemas[f] = _footer_schema(os.path.join(self.root, seg))
        self._publish({
            "batch": ptr["batch"] if batch_id is None else batch_id,
            "seq": n,
            "segments": kept + new,
            "schemas": {f: s for f, s in schemas.items() if s},
        })

    def commit(
        self,
        df: DataFrame,
        batch_id: int | None = None,
        partition_by: list[str] | None = None,
        *,
        split: bool = False,
        frame: str = "",
    ) -> None:
        """Write ``df`` as the next segment and flip the pointer to it
        (acking ``batch_id`` when given). ``df`` may read the live
        segments: the write lands beside them.

        Whole (``split=False``): ``df`` is the complete table, or with
        ``frame`` the complete named frame while the other frames keep
        their segments (hive-partitioned by ``partition_by``). Split:
        ``df`` holds the complete new content of every ``partition_by``
        value it mentions; those values' segments are replaced, and
        values ``df`` does not mention keep theirs. A split commit over
        a whole table replaces it (the layout migration)."""
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        self._write(
            lambda out: writer.parquet(os.path.join(out, frame)),
            batch_id, "parts" if split else "none", frame,
        )

    def replace(self, fill: Callable[[str], None]) -> None:
        """Replace the whole table with one segment: ``fill(dir)``
        writes every frame the table will hold into ``dir`` (each a
        named subdir, as :meth:`append`'s ``fill``), and it may read
        what it staged there; frames it does not write are dropped.
        One flip publishes all of them together."""
        self._write(fill, None, "none")

    def append(
        self, fill: Callable[[str], None], batch_id: int | None = None
    ) -> None:
        """Add a segment beside the live ones: ``fill(dir)`` writes the
        new rows into ``dir`` (parquet, partitioned or in named frame
        subdirs as the table reads them); one flip publishes them, with
        ``batch_id`` as the ack when given."""
        self._write(fill, batch_id, "all")
