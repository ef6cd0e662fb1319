"""Custom integration connector via the Python DataSource API
(Spark 4): the reference's ingestion-task fetch as a first-class
``spark.read.format("hyppo_integration")`` source.

Reference shape (cited for parity, not ported): the coordinator
creates ingestion tasks centrally
(``CreateIngestionTasksOperation.java:46-55``) and each task's raw
data is fetched by integration callback
(``FetchRawDataOperation``/``RawDataProcessor``,
``ProcessRawDataOperation.java:73-80``) — a pull-based, per-task,
arbitrary-Python data plane. The Spark-native expression of that
contract is a DataSource whose ``partitions()`` is the task list: ONE
InputPartition per ingestion task, so the fetch itself runs
DISTRIBUTED on executors (1000 tasks = 1000-way parallel ingestion),
with the DataFrame API (and Catalyst's pruning/pushdown) layered on
top instead of an opaque driver-side loop.

Contract:

- ``fetcher`` option — ``"module.path:callable"`` resolved by
  importlib ON THE EXECUTOR (the executor imports the integration's
  code, the analog of the reference's executor jar loading,
  ``registry.py:105-121``). Signature:
  ``fetcher(params: dict, schema: StructType) -> Iterator[tuple]``,
  tuples in schema column order.
- ``tasks`` option — JSON list of per-task param dicts (the
  coordinator-created task list).
- ``schema`` option — DDL string; explicit, never inferred.
- Filter pushdown: a task-param key that matches a schema column name
  declares that column CONSTANT per task (the directory-partition
  analog). Equality/IN filters on such columns prune whole tasks
  before any fetch runs — the 100 TB point: a date-filtered read of a
  10-year task list fetches only the matching days. The fetcher must
  emit the declared constant value in that column; a guard row-check
  enforces it at read time (fail loud, not wrong).
"""

from __future__ import annotations

import importlib
import json
import os
from dataclasses import dataclass
from typing import Any, Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from hyppo_worker_spark.generations import publish_json

FORMAT_NAME = "hyppo_integration"


def resolve_fetcher(path: str):
    """``"module.sub:callable"`` → the callable (executor-side)."""
    mod_name, _, fn_name = path.partition(":")
    if not mod_name or not fn_name:
        raise ValueError(
            f"fetcher must be 'module.path:callable', got {path!r}"
        )
    fn = getattr(importlib.import_module(mod_name), fn_name, None)
    if fn is None or not callable(fn):
        raise ValueError(f"fetcher {path!r} does not resolve to a callable")
    return fn


@dataclass
class IngestionTaskPartition(InputPartition):
    """One ingestion task == one Spark input partition."""

    index: int
    params: dict


class IntegrationReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        self._fetcher_path = options.get("fetcher")
        if not self._fetcher_path:
            raise ValueError("hyppo_integration requires a 'fetcher' option")
        try:
            tasks = json.loads(options.get("tasks", "[]"))
        except json.JSONDecodeError as e:
            raise ValueError(f"'tasks' option is not valid JSON: {e}") from None
        if not isinstance(tasks, list) or not all(
            isinstance(t, dict) for t in tasks
        ):
            raise ValueError("'tasks' must be a JSON list of objects")
        if not tasks:
            raise ValueError(
                "hyppo_integration requires a non-empty 'tasks' JSON list"
            )
        self._tasks: list[dict] = tasks
        # schema columns a task-param key may pin as constant-per-task
        self._param_cols = {
            f.name for f in schema.fields
        } & {k for t in tasks for k in t}

    # -- filter pushdown → task pruning --------------------------------

    _RANGE_OPS = {
        GreaterThan: lambda a, b: a > b,
        GreaterThanOrEqual: lambda a, b: a >= b,
        LessThan: lambda a, b: a < b,
        LessThanOrEqual: lambda a, b: a <= b,
    }

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Prune whole ingestion tasks with equality/IN/range filters
        on constant-per-task columns (ranges are the date-window case:
        ``day >= '2024-01-03'`` over a 10-year task list fetches only
        the matching days); every other filter is returned to Spark to
        evaluate above the scan. Range comparison uses the task
        param's own Python ordering, so it is only accepted when every
        task's value has the same type as the literal — mixed-type
        task lists fall back to Spark-side evaluation (never wrong,
        just unpruned)."""
        for flt in filters:
            accepted = False
            pushable = isinstance(
                flt, (EqualTo, In, *self._RANGE_OPS)
            ) and len(flt.attribute) == 1
            if pushable:
                col = flt.attribute[0]
                if col in self._param_cols and all(
                    col in t for t in self._tasks
                ):
                    if isinstance(flt, (EqualTo, In)):
                        wanted = (
                            {flt.value}
                            if isinstance(flt, EqualTo)
                            else set(flt.value)  # In.value is a tuple
                        )
                        self._tasks = [
                            t for t in self._tasks if t[col] in wanted
                        ]
                        accepted = True
                    else:
                        op = self._RANGE_OPS[type(flt)]
                        if all(
                            type(t[col]) is type(flt.value)
                            for t in self._tasks
                        ):
                            self._tasks = [
                                t
                                for t in self._tasks
                                if op(t[col], flt.value)
                            ]
                            accepted = True
            if not accepted:
                yield flt

    # -- scan -----------------------------------------------------------

    def partitions(self) -> Sequence[IngestionTaskPartition]:
        return [
            IngestionTaskPartition(i, t) for i, t in enumerate(self._tasks)
        ]

    def read(self, partition: IngestionTaskPartition) -> Iterator[tuple]:
        fetcher = resolve_fetcher(self._fetcher_path)
        names = [f.name for f in self._schema.fields]
        pinned = [
            (i, partition.params[n])
            for i, n in enumerate(names)
            if n in partition.params
        ]
        for row in fetcher(partition.params, self._schema):
            # enforce the constant-per-task declaration the pushdown
            # relied on — a fetcher emitting a different value would
            # silently corrupt pruned reads.
            for i, want in pinned:
                if row[i] != want:
                    raise ValueError(
                        f"fetcher emitted {names[i]}={row[i]!r} in a task "
                        f"declaring {names[i]}={want!r} — constant-per-task "
                        "columns must match their task param"
                    )
            yield row


_BASE_OFFSET_NAME = "_BASE_OFFSET.json"


def fold_task_log_generations(task_log: str, generations: list[str]) -> int:
    """Archive CLOSED task-log generations: fold their line counts into
    the directory's ``_BASE_OFFSET.json`` so checkpointed global offsets
    keep their meaning, then unlink the files. Returns the new base.

    Safety rules enforced here (offsets count lines across name-sorted
    files, so only a clean PREFIX of that order may be folded):

    - the archived set (previous + new) must be a name-sorted prefix of
      ALL generations ever seen — folding a middle file would shift the
      offsets of every retained line after it;
    - the name-sorted-last (open, still-growing) generation can never
      be archived.

    Atomicity for a concurrent reader: the new base file — which both
    carries the folded count AND lists the archived names the reader
    must ignore — is ``os.replace``d BEFORE any unlink, so the reader
    either sees (old base, files counted) or (new base, files ignored),
    never a double- or under-count. The caller is responsible for the
    checkpoint-retention rule: fold only generations whose last line is
    below every retained checkpoint's offset (a replay into the folded
    range fails loud in the reader).
    """
    if not os.path.isdir(task_log):
        raise ValueError("fold requires a task-log DIRECTORY")
    base_path = os.path.join(task_log, _BASE_OFFSET_NAME)
    try:
        with open(base_path, encoding="utf-8") as fh:
            prev = json.load(fh)
        prev_lines = int(prev["lines"])
        prev_archived = list(prev.get("archived", []))
    except FileNotFoundError:
        prev_lines, prev_archived = 0, []

    present = sorted(
        n for n in os.listdir(task_log) if n.endswith(".jsonl")
    )
    new_names = sorted(set(generations))
    for name in new_names:
        if name in prev_archived:
            raise ValueError(f"generation {name!r} already archived")
        if name not in present:
            raise ValueError(f"generation {name!r} not present")
    archived_all = sorted(set(prev_archived) | set(new_names))
    # prefix rule over the full historical order: every retained file
    # must sort after every archived one, and the open (last) file
    # must be retained
    retained = [n for n in present if n not in archived_all]
    if not retained:
        raise ValueError("cannot archive the open (name-sorted-last) "
                         "generation; at least one file must remain")
    if max(archived_all) > min(retained):
        raise ValueError(
            "archived generations must be a name-sorted prefix: "
            f"{max(archived_all)!r} sorts after retained {min(retained)!r}"
        )

    folded = 0
    for name in new_names:
        with open(os.path.join(task_log, name), encoding="utf-8") as fh:
            folded += sum(1 for line in fh if line.strip())

    new_base = {"lines": prev_lines + folded, "archived": archived_all}
    publish_json(base_path, new_base)  # atomic pointer flip, THEN unlink
    for name in new_names:
        os.unlink(os.path.join(task_log, name))
    return new_base["lines"]


class IntegrationStreamReader(SimpleDataSourceStreamReader):
    """The reference's worker POLLING loop (SURVEY §3.2:
    ``WorkerFSM``/requeue poll → execute) as a Structured Streaming
    source: the coordinator appends ingestion tasks to a JSON-lines
    ``task_log``; every microbatch ingests exactly the newly-appended
    tasks. Offsets are consumed line counts, so retry replays the same
    task slice (``readBetweenOffsets``) — at-least-once end-to-end,
    exactly-once into transactional sinks, the streaming twin of the
    batch reader's at-least-once requeue semantics.

    The task log must be append-only: rewriting consumed lines breaks
    replay determinism (same rule as any replayable source).

    ROTATION: ``task_log`` may also be a DIRECTORY of ``*.jsonl``
    generation files. The consumed-line offset then counts across the
    files in sorted-name order, so a coordinator can close a
    generation and start a new one (name-sorted AFTER every closed
    one) without unbounded single-file growth — the contract is that
    closed generations are immutable and only the name-sorted-last
    file may grow. A 100 TB ingest's task log is then prunable:
    :func:`fold_task_log_generations` archives a name-sorted PREFIX of
    closed generations whose lines are below every retained
    checkpoint's offset by folding their line counts into a
    ``_BASE_OFFSET.json`` base the reader honors (global offset =
    base + line index across retained files). The fold is atomic for
    the reader — the base file lists the archived names and is
    ``os.replace``d before any file is unlinked, so there is no window
    where lines are double- or under-counted. Replaying an offset
    below the base fails loud (the checkpoint predates the archive —
    an operational contract violation, never silent data loss).
    """

    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        self._fetcher_path = options.get("fetcher")
        self._task_log = options.get("task_log")
        if not self._fetcher_path or not self._task_log:
            raise ValueError(
                "streaming hyppo_integration requires 'fetcher' and 'task_log'"
            )

    def initialOffset(self) -> dict:
        return {"index": 0}

    def _base(self) -> tuple[int, frozenset[str]]:
        """(folded line count, archived generation names) from the
        directory's ``_BASE_OFFSET.json``, or (0, empty)."""
        if not os.path.isdir(self._task_log):
            return 0, frozenset()
        try:
            with open(
                os.path.join(self._task_log, _BASE_OFFSET_NAME),
                encoding="utf-8",
            ) as fh:
                base = json.load(fh)
            return int(base["lines"]), frozenset(base.get("archived", []))
        except FileNotFoundError:
            return 0, frozenset()

    def _log_files(self, archived: frozenset[str] = frozenset()) -> list[str]:
        if os.path.isdir(self._task_log):
            return sorted(
                os.path.join(self._task_log, name)
                for name in os.listdir(self._task_log)
                if name.endswith(".jsonl") and name not in archived
            )
        return [self._task_log]

    def _tasks(self, archived: frozenset[str] = frozenset()) -> list[dict]:
        out: list[dict] = []
        for path in self._log_files(archived):
            try:
                with open(path, encoding="utf-8") as fh:
                    out.extend(
                        json.loads(line) for line in fh if line.strip()
                    )
            except FileNotFoundError:
                continue
        return out

    def _rows(self, tasks: list[dict]) -> list[tuple]:
        # materialized (not a generator): Spark's prefetch cache copies
        # the returned iterable when a replay overlaps the cache, and a
        # generator can't be copied. Microbatch task slices are small
        # by contract (the polling loop drains a queue, not a corpus).
        fetcher = resolve_fetcher(self._fetcher_path)
        return [row for t in tasks for row in fetcher(t, self._schema)]

    def _local(self, offset: int, base: int) -> int:
        if offset < base:
            raise ValueError(
                f"task-log offset {offset} predates the folded base "
                f"offset {base}: the requested lines were archived by "
                "fold_task_log_generations while a checkpoint still "
                "referenced them (archive only below every retained "
                "checkpoint's offset)"
            )
        return offset - base

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        base, archived = self._base()
        tasks = self._tasks(archived)
        lo = self._local(start["index"], base)
        return iter(self._rows(tasks[lo:])), {"index": base + len(tasks)}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        base, archived = self._base()
        lo = self._local(start["index"], base)
        hi = self._local(end["index"], base)
        return iter(self._rows(self._tasks(archived)[lo:hi]))


# -- write path ----------------------------------------------------------
#
# The reference's PersistProcessedData contract
# (``PersistProcessedDataOperation``, upload + md5-verified manifest —
# see storage.py:95-177 for the layout port) as a Python DataSource
# WRITER: every task stages its own file, the DRIVER commits by
# publishing a manifest listing exactly the files of successful tasks,
# and readers trust the manifest only. A failed job aborts by deleting
# the staging area — partial task output is never visible. This is the
# object-store-safe commit protocol (no rename-directory atomicity
# assumed; the manifest IS the atomic pointer flip).


@dataclass
class TaskCommit(WriterCommitMessage):
    file: str
    rows: int
    md5: str


def _write_task_file(staging: str, names: list[str], iterator) -> TaskCommit:
    import hashlib
    import uuid

    os.makedirs(staging, exist_ok=True)
    fname = f"task-{uuid.uuid4().hex}.jsonl"
    fpath = os.path.join(staging, fname)
    h = hashlib.md5()
    rows = 0
    with open(fpath, "w", encoding="utf-8") as fh:
        for row in iterator:
            line = json.dumps(dict(zip(names, row)), sort_keys=True)
            fh.write(line + "\n")
            h.update(line.encode())
            rows += 1
    return TaskCommit(file=fname, rows=rows, md5=h.hexdigest())


def _manifest_path(path: str) -> str:
    return os.path.join(path, "_MANIFEST.json")


def _publish_manifest(path: str, manifest: dict) -> None:
    """Atomic pointer flip with VERSION history: every successful
    commit writes an immutable ``_MANIFEST-v{n}.json`` snapshot
    (n = previous version + 1) and then flips the ``_MANIFEST.json``
    latest pointer, each through ``publish_json`` (fsync, then
    ``os.replace``). Each snapshot lists the FULL
    file set visible at that version, so a time-travel read is just
    "open snapshot n, read its files" — the manifest-level form of
    Delta/Iceberg snapshot isolation (public technique). Append-mode
    commits never delete files, so every retained snapshot stays
    readable; overwrite-mode commits reap files not in the newest
    version (documented history truncation, like VACUUM).
    """
    prev = 0
    if os.path.exists(_manifest_path(path)):
        with open(_manifest_path(path), encoding="utf-8") as fh:
            prev = json.load(fh).get("version", 0)
    manifest = dict(manifest, version=prev + 1)
    publish_json(os.path.join(path, f"_MANIFEST-v{prev + 1}.json"), manifest)
    publish_json(_manifest_path(path), manifest)


def list_versions(path: str) -> list[dict]:
    """Available snapshot versions: [{version, n_files, total_rows}]."""
    out = []
    for name in sorted(os.listdir(path)):
        if name.startswith("_MANIFEST-v") and name.endswith(".json"):
            with open(os.path.join(path, name), encoding="utf-8") as fh:
                m = json.load(fh)
            out.append(
                {
                    "version": m["version"],
                    "n_files": len(m["files"]),
                    "total_rows": m["total_rows"],
                }
            )
    return sorted(out, key=lambda d: d["version"])


class IntegrationWriter(DataSourceWriter):
    def __init__(self, schema: StructType, options: dict, overwrite: bool):
        self._names = [f.name for f in schema.fields]
        self._path = options.get("path")
        if not self._path:
            raise ValueError("hyppo_integration write requires a 'path' option")
        self._staging = os.path.join(self._path, "_staging")
        self._overwrite = overwrite

    def write(self, iterator) -> TaskCommit:
        return _write_task_file(self._staging, self._names, iterator)

    def commit(self, messages) -> None:
        committed = [m for m in messages if m is not None]
        old: list[dict] = []
        if not self._overwrite and os.path.exists(_manifest_path(self._path)):
            with open(_manifest_path(self._path), encoding="utf-8") as fh:
                old = json.load(fh)["files"]
        for m in committed:
            os.replace(
                os.path.join(self._staging, m.file),
                os.path.join(self._path, m.file),
            )
        files = old + [
            {"file": m.file, "rows": m.rows, "md5": m.md5} for m in committed
        ]
        _publish_manifest(
            self._path,
            {"files": files, "total_rows": sum(f["rows"] for f in files)},
        )
        self._clean_staging()
        if self._overwrite:
            # Reap superseded DATA files only — every _MANIFEST*
            # (latest pointer, version snapshots, streaming epochs)
            # survives; older snapshots may dangle after an overwrite
            # (documented VACUUM-like history truncation).
            keep = {f["file"] for f in files} | {"_staging"}
            for name in os.listdir(self._path):
                if (
                    name not in keep
                    and not name.endswith(".tmp")
                    and not name.startswith("_MANIFEST")
                ):
                    os.remove(os.path.join(self._path, name))

    def abort(self, messages) -> None:
        # Best-effort: tasks still in flight when the driver aborts can
        # stage files AFTER this runs. That's fine — staged files are
        # invisible (readers trust the manifest only) and the next
        # successful commit's _clean_staging reaps them. The manifest
        # gate, not this cleanup, is the correctness mechanism.
        self._clean_staging()

    def _clean_staging(self) -> None:
        if os.path.isdir(self._staging):
            for name in os.listdir(self._staging):
                os.remove(os.path.join(self._staging, name))


class IntegrationStreamWriter(DataSourceStreamWriter):
    """Streaming sink twin: one manifest PER EPOCH
    (``_MANIFEST-{epoch}.json``). A replayed epoch rewrites its own
    manifest and re-stages its own files — idempotent by epoch id, so
    at-least-once delivery becomes exactly-once visibility: readers
    union the epoch manifests, each of which points to exactly one
    successful attempt's files."""

    def __init__(self, schema: StructType, options: dict):
        self._names = [f.name for f in schema.fields]
        self._path = options.get("path")
        if not self._path:
            raise ValueError("hyppo_integration write requires a 'path' option")
        self._staging = os.path.join(self._path, "_staging")

    def write(self, iterator) -> TaskCommit:
        return _write_task_file(self._staging, self._names, iterator)

    def commit(self, messages, batchId: int) -> None:  # noqa: N803 (API name)
        committed = [m for m in messages if m is not None]
        for m in committed:
            os.replace(
                os.path.join(self._staging, m.file),
                os.path.join(self._path, m.file),
            )
        files = [
            {"file": m.file, "rows": m.rows, "md5": m.md5} for m in committed
        ]
        final = os.path.join(self._path, f"_MANIFEST-{batchId}.json")
        replaced = None
        if os.path.exists(final):  # epoch replay: supersede, don't append
            with open(final, encoding="utf-8") as fh:
                replaced = {f["file"] for f in json.load(fh)["files"]}
        publish_json(
            final,
            {"epoch": batchId, "files": files,
             "total_rows": sum(f["rows"] for f in files)},
        )
        if replaced:
            for name in replaced - {f["file"] for f in files}:
                p = os.path.join(self._path, name)
                if os.path.exists(p):
                    os.remove(p)

    def abort(self, messages, batchId: int) -> None:  # noqa: N803 (API name)
        if os.path.isdir(self._staging):
            for name in os.listdir(self._staging):
                os.remove(os.path.join(self._staging, name))


def read_committed(spark, path: str, schema: str, version: int | None = None):
    """Read back ONLY manifest-listed files, verifying each file's md5
    against its manifest entry first — the checksum-verified read of
    the reference's persist contract.

    ``version=None`` reads the CURRENT view: the latest batch manifest
    plus all streaming epoch manifests. ``version=n`` is a TIME-TRAVEL
    read of the batch zone: exactly the files snapshot n listed
    (epoch manifests are excluded — the streaming zone has its own
    per-epoch immutability and no cross-epoch version counter).
    """
    import hashlib

    entries: list[dict] = []
    if version is not None:
        snap = os.path.join(path, f"_MANIFEST-v{version}.json")
        if not os.path.exists(snap):
            raise FileNotFoundError(
                f"no snapshot v{version} under {path}; "
                f"have {[v['version'] for v in list_versions(path)]}"
            )
        with open(snap, encoding="utf-8") as fh:
            entries.extend(json.load(fh)["files"])
    else:
        # a zone nothing was ever committed to may not even have a
        # directory (an aborted first write can die before any task
        # creates it) — that is a valid "0 committed rows" state, not
        # an error
        names = sorted(os.listdir(path)) if os.path.isdir(path) else []
        for name in names:
            is_epoch = (
                name.startswith("_MANIFEST-")
                and name.endswith(".json")
                and not name.startswith("_MANIFEST-v")
            )
            if name == "_MANIFEST.json" or is_epoch:
                with open(os.path.join(path, name), encoding="utf-8") as fh:
                    entries.extend(json.load(fh)["files"])
    files = []
    for e in entries:
        fpath = os.path.join(path, e["file"])
        h = hashlib.md5()
        with open(fpath, encoding="utf-8") as fh:
            for line in fh:
                h.update(line.rstrip("\n").encode())
        if h.hexdigest() != e["md5"]:
            raise IOError(
                f"checksum mismatch for {e['file']}: manifest {e['md5']}, "
                f"file {h.hexdigest()}"
            )
        files.append(fpath)
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).json(files)


class IntegrationDataSource(DataSource):
    """``spark.dataSource.register(IntegrationDataSource)`` then
    ``spark.read.format("hyppo_integration").schema(...).options(...)``
    for batch, ``spark.readStream`` with a ``task_log`` option for the
    polling-loop stream, ``df.write.format("hyppo_integration")`` for
    the manifest-committed sink (``df.writeStream`` for the per-epoch
    variant)."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> str:
        ddl = self.options.get("schema")
        if not ddl:
            raise ValueError("hyppo_integration requires a 'schema' option (DDL)")
        return ddl

    def reader(self, schema: StructType) -> IntegrationReader:
        return IntegrationReader(schema, dict(self.options))

    def simpleStreamReader(self, schema: StructType) -> IntegrationStreamReader:
        return IntegrationStreamReader(schema, dict(self.options))

    def writer(self, schema: StructType, overwrite: bool) -> IntegrationWriter:
        return IntegrationWriter(schema, dict(self.options), overwrite)

    def streamWriter(
        self, schema: StructType, overwrite: bool
    ) -> IntegrationStreamWriter:
        return IntegrationStreamWriter(schema, dict(self.options))


def register_integration_source(spark) -> None:
    """The ONE sanctioned way to make ``hyppo_integration`` usable on a
    session. Registers the DataSource AND enables Python-source filter
    pushdown together, because they are inseparable: IntegrationReader
    implements ``pushFilters()`` (task-level pruning), and Spark 4.1
    raises DATA_SOURCE_PUSHDOWN_DISABLED at read-planning time whenever
    a reader pushes filters while
    ``spark.sql.python.filterPushdown.enabled`` is false. The conf is
    runtime-settable but off by default, and sessions built outside
    ``session.get_spark`` (the driver harness's bare session) won't
    have the builder-time default — so query code must never call
    ``spark.dataSource.register(IntegrationDataSource)`` directly;
    route through here (regression-pinned by
    tests/test_integration_source.py::test_no_direct_register_in_queries).
    """
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(IntegrationDataSource)


# -- demo fetcher (used by tests; deterministic, no I/O) ----------------


def synthetic_events_fetcher(params: dict, schema: StructType) -> Iterator[tuple]:
    """Deterministic per-task rows: ``n_rows`` events for task
    ``task_id`` on day ``day`` (constant-per-task column). Stands in
    for a real integration's API-paging fetch in tests."""
    task_id = params["task_id"]
    # "emit_day" (not a schema column) lets tests exercise the
    # constant-per-task guard with a fetcher that contradicts its task.
    day = params.get("emit_day", params["day"])
    n = int(params.get("n_rows", 10))
    for i in range(n):
        yield (task_id, day, i, f"evt-{task_id}-{i}", (i * 7 + task_id) % 100)


def synthetic_documents_fetcher(params: dict, schema: StructType) -> Iterator[tuple]:
    """Deterministic per-task DOCUMENT rows (doc_id, text) for the
    ingestion-admission composition tests: each task carries explicit
    ``docs`` — a list of [doc_id, prefix, n_words, n_changed] specs —
    and the text is a prefix-derived word sequence with the first
    ``n_changed`` anchor words replaced (the same near-dup construction
    the admission tests use)."""
    for doc_id, prefix, n_words, n_changed in params["docs"]:
        words = [f"{prefix}{i:03d}" for i in range(int(n_words))]
        for j in range(int(n_changed)):
            words[10 + 7 * j] = f"chg{prefix}{j}"
        yield (doc_id, " ".join(words))


class ErasureReconcileError(RuntimeError):
    """A manifest entry mismatches a data file this erasure run did
    NOT rewrite. Blind re-stamping here would bless content the
    checksum gate exists to reject (corruption, tampering) as the new
    authoritative state. If the mismatch is a previous erasure's crash
    window (data rewritten, manifest stamp lost), rerun with
    ``reconcile=True`` to accept the file content."""


def erase_rows(path: str, should_erase, *, reconcile: bool = False) -> dict:
    """GDPR-style erasure ACROSS ALL RETAINED VERSIONS of a manifest
    zone: rewrite every data file any snapshot references, dropping
    records where ``should_erase(record) -> True``, then update every
    manifest's (rows, md5) entries — latest pointer, every
    ``_MANIFEST-v{n}`` snapshot, and streaming epoch manifests alike.

    Time travel and erasure are in tension: append-mode snapshots
    keep history readable forever (`_publish_manifest`), which is
    exactly what a right-to-be-forgotten request must defeat —
    ``read_committed(version=n)`` must NOT resurrect the subject's
    rows for any retained n. Erasure therefore rewrites shared data
    files IN PLACE (a file referenced by five snapshots is rewritten
    once) and re-stamps all five manifests.

    Ordering is load-bearing, in TWO stages. Stage 1 is a READ-ONLY
    pre-pass over every referenced file: it computes each file's
    current (rows, md5) and the rows the predicate would erase, and
    the fail-loud gate runs HERE — any manifest entry that mismatches
    the file's PRE-erasure content (a previous erasure's crash window,
    external corruption, or tampering — indistinguishable by content)
    raises ``ErasureReconcileError`` naming the files BEFORE any data
    file or manifest mutates, so the default failure path is
    side-effect-free and leaves no new crash window of its own.
    Recovering requires an EXPLICIT ``reconcile=True``, which accepts
    the current on-disk content as authoritative — so a file known to
    be tampered must be restored (or its snapshots retired) BEFORE the
    reconcile rerun, or the rerun blesses the tampered bytes. Stage 2
    then rewrites the changed data files (atomic tmp + os.replace per
    file) and re-stamps manifests LAST; a crash in between leaves a
    manifest whose md5 no longer matches — ``read_committed`` fails
    LOUD on checksum, never serving half-erased state silently — and
    the next run's pre-pass surfaces exactly that window. Scale: both
    passes are per-FILE with no cross-file state and run as ONE SPARK
    TASK PER FILE when a session is active (the zone is shared
    storage, the same assumption its readers make) — at a 100 TB zone
    parallelism equals the original write's (files are
    per-ingestion-task by construction), with only the k-files-sized
    stat frames and the gate itself on the driver. Without an active
    session both passes fall back to a sequential local loop with
    identical semantics.

    The stamped digest is the md5 OF THE BYTES STAGE 2 ACTUALLY WROTE
    (untouched files keep their stage-1 digest, which stage 1 verified
    against disk): a non-pure ``should_erase`` that drifts between the
    passes is detected by comparing the two digests and fails loud
    BEFORE any manifest is stamped, instead of leaving the zone
    failing checksums until manual repair.

    Returns {files_rewritten, rows_erased, manifests_updated}.
    """
    import hashlib

    manifests: dict[str, dict] = {}
    data_files: set[str] = set()
    for name in sorted(os.listdir(path)):
        if name.startswith("_MANIFEST") and name.endswith(".json"):
            with open(os.path.join(path, name), encoding="utf-8") as fh:
                m = json.load(fh)
            manifests[name] = m
            for e in m["files"]:
                data_files.add(e["file"])

    def _run_per_file(fn, files: list[str]) -> list[tuple]:
        """One Spark task per file when a session is active (numSlices
        = len(files) pins the task granularity); sequential otherwise.
        Results are one small stats tuple per file — bounded by the
        manifest size the driver already holds."""
        if not files:
            return []
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            return [fn(f) for f in files]
        return (
            spark.sparkContext.parallelize(files, len(files))
            .map(fn)
            .collect()
        )

    # Stage 1 — READ-ONLY pre-pass: pre-state (gate input), post-state
    # (candidate stamp input), and the erase count per file.
    # Reconciling every entry against the file's current content is
    # what makes rerunning a crashed erasure converge.
    def _scan_file(fname: str) -> tuple:
        fpath = os.path.join(path, fname)
        h_pre = hashlib.md5()
        h_post = hashlib.md5()
        n_pre = n_post = erased_here = 0
        with open(fpath, encoding="utf-8") as fh:
            for line in fh:
                line = line.rstrip("\n")
                h_pre.update(line.encode())
                n_pre += 1
                if should_erase(json.loads(line)):
                    erased_here += 1
                    continue
                h_post.update(line.encode())
                n_post += 1
        return (
            fname, n_pre, h_pre.hexdigest(), n_post, h_post.hexdigest(),
            erased_here,
        )

    pre_state: dict[str, dict] = {}
    post_state: dict[str, dict] = {}
    to_erase: dict[str, int] = {}
    for fname, n_pre, md5_pre, n_post, md5_post, erased_here in _run_per_file(
        _scan_file, sorted(data_files)
    ):
        pre_state[fname] = {"rows": n_pre, "md5": md5_pre}
        post_state[fname] = {"rows": n_post, "md5": md5_post}
        to_erase[fname] = erased_here

    # Fail-loud gate BEFORE mutating anything: entries that mismatch a
    # file's PRE-erasure content are a previous erasure's crash window
    # (expected: rerun with reconcile=True) or genuine corruption —
    # never silently absorbed, and never laundered by this run's own
    # rewrite of the same file.
    stale = sorted(
        {
            e["file"]
            for m in manifests.values()
            for e in m["files"]
            if (r := pre_state.get(e["file"])) is not None
            and (e["rows"], e["md5"]) != (r["rows"], r["md5"])
        }
    )
    if stale and not reconcile:
        raise ErasureReconcileError(
            "manifest entries mismatch the current content of data "
            f"files: {stale}. Nothing was modified by this run. If a "
            "previous erasure crashed between its data rewrite and "
            "manifest re-stamp, rerun with reconcile=True to accept "
            "the current file content; if a file was corrupted or "
            "tampered with, restore it BEFORE any reconcile=True "
            "rerun — reconcile blesses whatever is on disk."
        )

    # Stage 2 — rewrite changed data files (second read; the pre-pass
    # buffers no lines so memory stays O(1) per file), hashing the
    # KEPT lines as they are written so the manifest stamp is the
    # digest of the bytes on disk, then manifests LAST.
    def _rewrite_file(fname: str) -> tuple:
        fpath = os.path.join(path, fname)
        tmp = fpath + ".tmp"
        h = hashlib.md5()
        kept = 0
        with open(fpath, encoding="utf-8") as src, open(
            tmp, "w", encoding="utf-8"
        ) as dst:
            for line in src:
                bare = line.rstrip("\n")
                if should_erase(json.loads(bare)):
                    continue
                dst.write(line if line.endswith("\n") else line + "\n")
                h.update(bare.encode())
                kept += 1
        os.replace(tmp, fpath)
        return (fname, kept, h.hexdigest())

    changed_files = [f for f in sorted(data_files) if to_erase[f]]
    written = dict()
    for fname, kept, md5_written in _run_per_file(
        _rewrite_file, changed_files
    ):
        written[fname] = {"rows": kept, "md5": md5_written}
    files_rewritten = len(changed_files)
    rows_erased = sum(to_erase[f] for f in changed_files)

    # Non-pure-predicate guard: the bytes stage 2 wrote must be the
    # bytes stage 1 predicted; a should_erase whose answer drifted
    # between the passes fails LOUD here — BEFORE any manifest stamp —
    # and read_committed keeps failing on the old stamps (the
    # documented crash-window semantics) instead of the zone silently
    # carrying a stamp that matches nothing.
    drifted = sorted(
        f for f, w in written.items()
        if (w["rows"], w["md5"])
        != (post_state[f]["rows"], post_state[f]["md5"])
    )
    if drifted:
        raise ErasureReconcileError(
            "should_erase returned different answers between the "
            f"read-only pre-pass and the rewrite for: {drifted}. The "
            "predicate must be pure. No manifest was stamped; restore "
            "the named files (or rerun with a pure predicate and "
            "reconcile=True) to converge."
        )
    # stamp what was WRITTEN; untouched files keep their (disk-
    # verified) stage-1 digest
    post_state.update(written)

    manifests_updated = 0
    for mname, m in manifests.items():
        changed = False
        for e in m["files"]:
            r = post_state.get(e["file"])
            if r is not None and (e["rows"], e["md5"]) != (r["rows"], r["md5"]):
                e["rows"] = r["rows"]
                e["md5"] = r["md5"]
                changed = True
        if not changed:
            continue
        if "total_rows" in m:
            m["total_rows"] = sum(e["rows"] for e in m["files"])
        publish_json(os.path.join(path, mname), m)
        manifests_updated += 1

    return {
        "files_rewritten": files_rewritten,
        "rows_erased": rows_erased,
        "manifests_updated": manifests_updated,
    }
