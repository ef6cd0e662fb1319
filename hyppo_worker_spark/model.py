"""Core control-plane data model.

Python dataclasses re-expressing the reference's typed message/data
hierarchy (all citations into the read-only reference checkout):

- ``WorkerInput``/``WorkerResponse`` sealed hierarchy —
  ``worker-api/src/main/scala/com/harrys/hyppo/worker/api/proto/WorkerProtocol.scala:13-56``
- ``IngestionSource`` / ``DataIngestionJob`` / ``DataIngestionTask`` —
  constructed as in ``worker/src/test/scala/com/harrys/hyppo/worker/TestObjects.scala:16-32``
- ``RemoteDataFile`` manifests (location, size, checksum, record count) —
  ``worker-api/.../proto/RemoteDataFile.scala:13-35``
- ``IntegrationSchema`` (schema JSON + MD5 fingerprint of the canonical
  string) — ``worker-api/.../code/IntegrationSchema.scala:11-31``,
  ``IntegrationUtils.computeSchemaFingerprint`` (``IntegrationUtils.scala:25-29``)
- ``WorkResource`` (concurrency semaphore / throttle token bucket) —
  ``worker-api/.../proto/WorkResource.scala:8-43``

Serialization is JSON with a type-tag allowlist: the reference guards
deserialization with a lookahead class check
(``worker/.../actor/amqp/AMQPSerialization.scala:16-59``); here the
``type`` field must resolve through ``_ALLOWED_TYPES`` before any
payload is parsed.
"""

from __future__ import annotations

import enum
import hashlib
import json
import uuid
from dataclasses import asdict, dataclass, field
from datetime import datetime, timezone
from typing import Any


def _now() -> datetime:
    return datetime.now(timezone.utc)


def new_execution_id() -> str:
    return str(uuid.uuid4())


def sanitize_name(name: str) -> str:
    """Queue/key-safe name: whitespace → '_', '.' → '-'
    (parity with ``QueueNaming.scala:107-112``)."""
    return name.strip().replace(".", "-").replace(" ", "_")


# ---------------------------------------------------------------------------
# Ingestion entities
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class IngestionSource:
    """A named external source plus connector configuration
    (reference: ``new IngestionSource(name, Config)``)."""

    name: str
    configuration: dict[str, Any] = field(default_factory=dict)


@dataclass(frozen=True)
class DataIngestionJob:
    """One ingestion run of a source."""

    source: IngestionSource
    id: str = field(default_factory=new_execution_id)
    configuration: dict[str, Any] = field(default_factory=dict)
    started_at: datetime = field(default_factory=_now)


@dataclass(frozen=True)
class DataIngestionTask:
    """Unit of parallelism within a job (reference:
    ``new DataIngestionTask(job, taskNumber, Config taskArguments)``)."""

    job: DataIngestionJob
    task_number: int
    task_arguments: dict[str, Any] = field(default_factory=dict)


# ---------------------------------------------------------------------------
# Remote file manifests
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class RemoteStorageLocation:
    """(bucket, key) pointer — ``RemoteStorageLocation.scala:7-12``.
    Rendered as ``s3a://bucket/key`` or a local path when bucket
    starts with '/'."""

    bucket: str
    key: str

    def uri(self) -> str:
        if self.bucket.startswith("/"):
            return f"{self.bucket.rstrip('/')}/{self.key}"
        return f"s3a://{self.bucket}/{self.key}"


@dataclass(frozen=True)
class RemoteRawDataFile:
    """Opaque raw bytes landed to storage (``RemoteDataFile.scala:13-18``)."""

    location: RemoteStorageLocation
    file_size: int
    checksum: str  # md5 hex


@dataclass(frozen=True)
class RemoteProcessedDataFile:
    """Typed record file with count (``RemoteDataFile.scala:21-27``)."""

    location: RemoteStorageLocation
    file_size: int
    checksum: str
    record_count: int


@dataclass(frozen=True)
class RemoteLogFile:
    location: RemoteStorageLocation
    file_size: int


# ---------------------------------------------------------------------------
# Schema registry
# ---------------------------------------------------------------------------


def compute_schema_fingerprint(schema_json: str) -> str:
    """MD5 of the canonical (minified, key-sorted) schema JSON —
    parity with ``IntegrationUtils.computeSchemaFingerprint``
    (``IntegrationUtils.scala:25-29``)."""
    canonical = json.dumps(json.loads(schema_json), sort_keys=True, separators=(",", ":"))
    return hashlib.md5(canonical.encode()).hexdigest()


@dataclass(frozen=True)
class IntegrationSchema:
    """Record schema + fingerprint; identity = (name, fingerprint)
    (``IntegrationSchema.scala:25-28``)."""

    name: str
    schema_json: str
    fingerprint: str = ""

    def __post_init__(self):
        if not self.fingerprint:
            object.__setattr__(
                self, "fingerprint", compute_schema_fingerprint(self.schema_json)
            )

    def same_schema(self, other: "IntegrationSchema") -> bool:
        return self.name == other.name and self.fingerprint == other.fingerprint


# ---------------------------------------------------------------------------
# Work resources
# ---------------------------------------------------------------------------


class ResourceKind(str, enum.Enum):
    CONCURRENCY = "concurrency"
    THROTTLED = "throttled"


@dataclass(frozen=True)
class ConcurrencyWorkResource:
    """Counting semaphore shared across workers
    (``WorkResource.scala:14-25``)."""

    name: str
    concurrency: int

    kind: ResourceKind = ResourceKind.CONCURRENCY


@dataclass(frozen=True)
class ThrottledWorkResource:
    """Token bucket enforcing a minimum interval between executions
    (``WorkResource.scala:27-43``)."""

    name: str
    throttle_rate_ms: int

    kind: ResourceKind = ResourceKind.THROTTLED


WorkResource = ConcurrencyWorkResource | ThrottledWorkResource


# ---------------------------------------------------------------------------
# Persisting semantics + integration details
# ---------------------------------------------------------------------------


class PersistingSemantics(str, enum.Enum):
    """Sink retry contract (``TaskFSM.scala:102-115``): idempotent
    sinks are at-least-once (ack after), unsafe sinks are
    at-most-once (ack before, never re-run)."""

    IDEMPOTENT = "idempotent"
    UNSAFE = "unsafe"


@dataclass(frozen=True)
class IntegrationDetails:
    """(``IntegrationDetails.scala:9-17``)"""

    source_name: str
    version_number: int
    is_raw_data_integration: bool
    persisting_semantics: PersistingSemantics = PersistingSemantics.IDEMPOTENT


# ---------------------------------------------------------------------------
# Work items (WorkerInput hierarchy) — WorkerProtocol.scala:13-41
# ---------------------------------------------------------------------------


class Operation(str, enum.Enum):
    """The seven pipeline operations
    (``executor/src/main/java/com/harrys/hyppo/executor/ExecutorOperation.java:12-20``)."""

    VALIDATE_INTEGRATION = "ValidateIntegration"
    CREATE_INGESTION_TASKS = "CreateIngestionTasks"
    FETCH_RAW_DATA = "FetchRawData"
    PROCESS_RAW_DATA = "ProcessRawData"
    FETCH_PROCESSED_DATA = "FetchProcessedData"
    PERSIST_PROCESSED_DATA = "PersistProcessedData"
    HANDLE_JOB_COMPLETED = "HandleJobCompleted"


@dataclass(frozen=True)
class WorkInput:
    """Base work item; concrete subclasses carry per-op payloads."""

    integration: IntegrationDetails
    execution_id: str = field(default_factory=new_execution_id)
    resources: tuple[WorkResource, ...] = ()

    operation: Operation = None  # type: ignore[assignment]

    @property
    def idempotent(self) -> bool:
        """Only unsafe persists are non-idempotent
        (``WorkQueueExecution.scala:20-24``)."""
        return True


@dataclass(frozen=True)
class ValidateIntegrationRequest(WorkInput):
    operation: Operation = Operation.VALIDATE_INTEGRATION


@dataclass(frozen=True)
class CreateIngestionTasksRequest(WorkInput):
    job: DataIngestionJob = None  # type: ignore[assignment]
    operation: Operation = Operation.CREATE_INGESTION_TASKS


@dataclass(frozen=True)
class FetchRawDataRequest(WorkInput):
    task: DataIngestionTask = None  # type: ignore[assignment]
    operation: Operation = Operation.FETCH_RAW_DATA


@dataclass(frozen=True)
class ProcessRawDataRequest(WorkInput):
    task: DataIngestionTask = None  # type: ignore[assignment]
    files: tuple[RemoteRawDataFile, ...] = ()
    operation: Operation = Operation.PROCESS_RAW_DATA


@dataclass(frozen=True)
class FetchProcessedDataRequest(WorkInput):
    task: DataIngestionTask = None  # type: ignore[assignment]
    operation: Operation = Operation.FETCH_PROCESSED_DATA


@dataclass(frozen=True)
class PersistProcessedDataRequest(WorkInput):
    task: DataIngestionTask = None  # type: ignore[assignment]
    data: RemoteProcessedDataFile = None  # type: ignore[assignment]
    operation: Operation = Operation.PERSIST_PROCESSED_DATA

    @property
    def idempotent(self) -> bool:
        return (
            self.integration.persisting_semantics is not PersistingSemantics.UNSAFE
        )


@dataclass(frozen=True)
class HandleJobCompletedRequest(WorkInput):
    job: DataIngestionJob = None  # type: ignore[assignment]
    tasks: tuple[DataIngestionTask, ...] = ()
    completed_at: datetime = field(default_factory=_now)
    operation: Operation = Operation.HANDLE_JOB_COMPLETED


# ---------------------------------------------------------------------------
# Responses (WorkerResponse hierarchy) — WorkerProtocol.scala:43-56
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class IntegrationException:
    """Structured, chain-carrying failure
    (``worker-api/.../proto/IntegrationException.scala:13-59``)."""

    exception_class: str
    message: str
    stack_trace: tuple[str, ...] = ()
    cause: "IntegrationException | None" = None

    @classmethod
    def from_exception(cls, e: BaseException) -> "IntegrationException":
        import traceback

        cause = None
        if e.__cause__ is not None and e.__cause__ is not e:
            cause = cls.from_exception(e.__cause__)
        return cls(
            exception_class=type(e).__name__,
            message=str(e),
            stack_trace=tuple(traceback.format_tb(e.__traceback__)),
            cause=cause,
        )


@dataclass(frozen=True)
class WorkResponse:
    input: WorkInput
    log_file: RemoteLogFile | None = None


@dataclass(frozen=True)
class FailureResponse(WorkResponse):
    """(``WorkerProtocol.scala:51-56``)

    ``attempt`` surfaces the delivery count the broker attached to the
    in-flight item (the redelivery flag of ``QueueItemHeaders.scala:11-26``
    generalized to a counter) so handlers can apply poison-message
    policies. ``timed_out`` marks failures produced by the engine's
    Running-state watchdog (``WorkerFSM.scala:125`` work-timeout), not
    the connector itself."""

    exception: IntegrationException | None = None
    attempt: int = 1
    timed_out: bool = False


@dataclass(frozen=True)
class ValidateIntegrationResponse(WorkResponse):
    is_valid: bool = False
    schema: IntegrationSchema | None = None
    raw_data_integration: bool = False
    persisting_semantics: PersistingSemantics = PersistingSemantics.IDEMPOTENT
    validation_errors: tuple[str, ...] = ()


@dataclass(frozen=True)
class CreateIngestionTasksResponse(WorkResponse):
    tasks: tuple[DataIngestionTask, ...] = ()


@dataclass(frozen=True)
class FetchRawDataResponse(WorkResponse):
    data: tuple[RemoteRawDataFile, ...] = ()


@dataclass(frozen=True)
class ProcessRawDataResponse(WorkResponse):
    data: RemoteProcessedDataFile | None = None


@dataclass(frozen=True)
class FetchProcessedDataResponse(WorkResponse):
    data: RemoteProcessedDataFile | None = None


@dataclass(frozen=True)
class PersistProcessedDataResponse(WorkResponse):
    pass


@dataclass(frozen=True)
class HandleJobCompletedResponse(WorkResponse):
    pass


# ---------------------------------------------------------------------------
# JSON serialization with type-tag allowlist
# ---------------------------------------------------------------------------

_ALLOWED_TYPES: dict[str, type] = {
    cls.__name__: cls
    for cls in (
        ValidateIntegrationRequest,
        CreateIngestionTasksRequest,
        FetchRawDataRequest,
        ProcessRawDataRequest,
        FetchProcessedDataRequest,
        PersistProcessedDataRequest,
        HandleJobCompletedRequest,
    )
}


class DisallowedTypeError(ValueError):
    """Raised when a serialized payload's type tag is not allowlisted
    (parity with the lookahead class check in
    ``AMQPSerialization.scala:38-52``)."""


def _encode(obj: Any) -> Any:
    if isinstance(obj, datetime):
        return {"$dt": obj.isoformat()}
    if isinstance(obj, enum.Enum):
        return obj.value
    raise TypeError(f"not JSON-serializable: {type(obj)}")


def serialize_work(item: WorkInput) -> str:
    payload = asdict(item)
    return json.dumps({"type": type(item).__name__, "payload": payload}, default=_encode)


def _decode_dt(obj: Any) -> Any:
    if isinstance(obj, dict):
        if set(obj) == {"$dt"}:
            return datetime.fromisoformat(obj["$dt"])
        return {k: _decode_dt(v) for k, v in obj.items()}
    if isinstance(obj, list):
        return [_decode_dt(v) for v in obj]
    return obj


def _build(cls: type, data: dict[str, Any]) -> Any:
    """Reconstruct nested dataclasses from plain dicts."""
    import dataclasses
    import typing

    if not dataclasses.is_dataclass(cls):
        return data
    kwargs: dict[str, Any] = {}
    hints = typing.get_type_hints(cls)
    for f in dataclasses.fields(cls):
        if f.name not in data:
            continue
        v = data[f.name]
        t = hints.get(f.name, f.type)
        kwargs[f.name] = _coerce(t, v)
    return cls(**kwargs)


def _coerce(t: Any, v: Any) -> Any:
    import dataclasses
    import typing

    if v is None:
        return None
    origin = typing.get_origin(t)
    if origin is tuple:
        (elem_t, *_rest) = typing.get_args(t)
        return tuple(_coerce(elem_t, x) for x in v)
    import types as _types

    if origin is typing.Union or origin is _types.UnionType:
        for cand in typing.get_args(t):
            if cand is type(None):
                continue
            try:
                return _coerce(cand, v)
            except (TypeError, ValueError, KeyError):
                continue
        return v
    if isinstance(t, type) and issubclass(t, enum.Enum):
        return t(v)
    if isinstance(t, type) and dataclasses.is_dataclass(t) and isinstance(v, dict):
        return _build(t, v)
    return v


def deserialize_work(raw: str) -> WorkInput:
    """Type-gated deserialization: the tag is checked against the
    allowlist BEFORE the payload is interpreted."""
    envelope = json.loads(raw)
    tag = envelope.get("type")
    cls = _ALLOWED_TYPES.get(tag)
    if cls is None:
        raise DisallowedTypeError(f"type not allowed: {tag!r}")
    payload = _decode_dt(envelope["payload"])
    return _build(cls, payload)


# ---------------------------------------------------------------------------
# Signed envelope (transport integrity)
# ---------------------------------------------------------------------------
#
# The reference encrypts work items on the wire with AES-128-GCM using a
# PBKDF2-derived key (worker/.../actor/amqp/AMQPEncryption.scala:12-60) —
# authenticated encryption: confidentiality (connector configs carry
# credentials) plus integrity + authenticity. Where the ``cryptography``
# package is importable the envelope uses the same AES-128-GCM +
# PBKDF2-derived-key construction; in stdlib-only environments it falls
# back to an HMAC-SHA256-signed plaintext envelope (integrity only —
# documented divergence). ``open_work`` accepts both formats.

try:  # pragma: no cover - availability depends on the environment
    from cryptography.hazmat.primitives import hashes as _crypto_hashes
    from cryptography.hazmat.primitives.ciphers.aead import AESGCM as _AESGCM
    from cryptography.hazmat.primitives.kdf.pbkdf2 import PBKDF2HMAC as _PBKDF2HMAC

    _HAVE_CRYPTO = True
except ImportError:  # pragma: no cover
    _HAVE_CRYPTO = False

_GCM_PREFIX = "gcm1"
_GCM_ITERATIONS = 65536  # PBKDF2 rounds, mirroring AMQPEncryption.scala:21
_GCM_KEY_BYTES = 16  # AES-128
_GCM_NONCE_BYTES = 12


class EnvelopeIntegrityError(ValueError):
    """Authentication check failed — payload tampered or wrong key."""


def _derive_key(key: bytes, salt: bytes) -> bytes:
    kdf = _PBKDF2HMAC(
        algorithm=_crypto_hashes.SHA256(),
        length=_GCM_KEY_BYTES,
        salt=salt,
        iterations=_GCM_ITERATIONS,
    )
    return kdf.derive(key)


def seal_work(item: WorkInput, key: bytes) -> str:
    """Serialize + protect a work item for persistence/relay.

    With ``cryptography`` available: AES-128-GCM under a per-message
    PBKDF2(salt)-derived key — ``gcm1.<b64 salt>.<b64 nonce+ct>``.
    Stdlib fallback: HMAC-SHA256-signed plaintext ``<hex hmac>.<json>``.
    """
    body = serialize_work(item)
    if _HAVE_CRYPTO:
        import base64
        import os as _os

        salt = _os.urandom(16)
        nonce = _os.urandom(_GCM_NONCE_BYTES)
        ct = _AESGCM(_derive_key(key, salt)).encrypt(nonce, body.encode(), None)
        b64 = base64.urlsafe_b64encode
        return f"{_GCM_PREFIX}.{b64(salt).decode()}.{b64(nonce + ct).decode()}"
    import hmac as _hmac

    sig = _hmac.new(key, body.encode(), hashlib.sha256).hexdigest()
    return f"{sig}.{body}"


def open_work(sealed: str, key: bytes) -> WorkInput:
    """Authenticate (and decrypt) BEFORE deserializing, then apply the
    type-allowlist gate. Accepts both envelope formats."""
    if sealed.startswith(_GCM_PREFIX + "."):
        if not _HAVE_CRYPTO:
            raise EnvelopeIntegrityError(
                "encrypted envelope but cryptography package unavailable"
            )
        import base64

        try:
            _, salt_b64, blob_b64 = sealed.split(".", 2)
            salt = base64.urlsafe_b64decode(salt_b64)
            blob = base64.urlsafe_b64decode(blob_b64)
            nonce, ct = blob[:_GCM_NONCE_BYTES], blob[_GCM_NONCE_BYTES:]
            body = _AESGCM(_derive_key(key, salt)).decrypt(nonce, ct, None).decode()
        except Exception as e:
            raise EnvelopeIntegrityError(f"work envelope decrypt failed: {e}") from e
        return deserialize_work(body)
    import hmac as _hmac

    sig, _, body = sealed.partition(".")
    expect = _hmac.new(key, body.encode(), hashlib.sha256).hexdigest()
    if not _hmac.compare_digest(sig, expect):
        raise EnvelopeIntegrityError("work envelope signature mismatch")
    return deserialize_work(body)


# ---------------------------------------------------------------------------
# Mid-operation status updates
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class StatusUpdate:
    """Progress frame emitted while an operation runs — the analog of
    the executor's ``StatusUpdate`` JSON frames
    (``executor/.../proto/stat/*.java``, consumed by
    ``worker/.../proc/SimpleCommander.scala:46-53``)."""

    execution_id: str
    operation: Operation
    phase: str  # e.g. validated | fetched | wrote_records | persisted
    detail: dict[str, Any] = field(default_factory=dict)
