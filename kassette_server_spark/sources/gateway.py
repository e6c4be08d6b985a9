"""Gateway ingest shim (S1/S2 + R6 + T3): accepts event payloads the
way the reference's HTTP gateway does and lands them as JSONL files —
the durable hand-off the streaming engine consumes.

Reproduced semantics (gateway/gateway.go):
- write-key authentication before enqueue (656-693);
- non-batch requests wrapped into batch[0] with the request type
  stamped (1102-1115);
- envelope enrichment: writeKey, requestIP, receivedAt (970-973);
- job metadata from the FIRST event of the batch (gateway.go:884-957):
  the job row's UserID built as ``X-User-ID header <<>> anonymousId
  <<>> userId`` (buildUserID, gateway.go:1069-1074; header read at
  :640; falls back to userId for the middle part when anonymousId is
  empty), ``context.sources.{job_run_id,task_run_id}`` captured into
  the job params (gateway.go:906-917, 977-981), and the SDK
  ``context.library.{name,version}`` stamped as ``name/version`` with
  non-semver versions replaced by ``"invalid"`` (gateway.go:919-936);
- request batching: flush at max_batch or timeout (144-165, 32/2000ms
  defaults from config.yaml:13-15) — here flush writes one JSONL file,
  whose arrival triggers the streaming micro-batch.

Each landing line is one job row: ``payload`` carries the enriched
envelope (JobT.EventPayload) and the sibling fields ``job_user_id`` /
``params`` / ``sdk_version`` carry JobT.UserID / JobT.Parameters /
jobData.version. The streaming reader's ``payload string`` schema
ignores the siblings, so pre-existing consumers are unaffected; a
reader that declares them in its schema surfaces them.

The shim itself is transport-agnostic (the engine contract is the
landing zone; a Kafka producer writing the same shape plugs in).
``http_listener.IngestListener`` puts the reference's actual HTTP
surface (POST /v1/{batch,track,...}, basic-auth write keys —
gateway/gateway.go:606-693) in front of it over a real socket.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone

#: gateway/gateway.go:1057 — JobT.UserID field delimiter.
DELIMITER = "<<>>"

#: gateway/gateway.go:67 — the (anchored) semver shape accepted for
#: context.library.version; anything else becomes "invalid".
_SEMVER_RE = re.compile(
    r"^v?([0-9]+)(\.[0-9]+)?(\.[0-9]+)?"
    r"(-([0-9A-Za-z\-]+(\.[0-9A-Za-z\-]+)*))?"
    r"(\+([0-9A-Za-z\-]+(\.[0-9A-Za-z\-]+)*))?$"
)


def _rfc3339_milli(dt: datetime) -> str:
    return dt.astimezone(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.") + f"{dt.microsecond // 1000:03d}Z"


def _stringified(v) -> str:
    """misc/misc.go:57-71 GetStringifiedData: nil → '', string as-is,
    anything else its compact-JSON rendering."""
    if v is None:
        return ""
    if isinstance(v, str):
        return v
    return json.dumps(v, separators=(",", ":"))


def build_user_id(user_id_header: str, anon_id: str, user_id: str) -> str:
    """gateway/gateway.go:1069-1074 buildUserID: header <<>> anonId
    <<>> userId, with userId doubling as the middle part when
    anonymousId is empty."""
    middle = anon_id if anon_id else user_id
    return user_id_header + DELIMITER + middle + DELIMITER + user_id


def _map_lookup_str(d, *path) -> str:
    """misc MapLookup(...).(string): walk nested dicts; non-dict hop or
    non-string leaf yields the Go zero value ''."""
    cur = d
    for key in path:
        if not isinstance(cur, dict):
            return ""
        cur = cur.get(key)
    return cur if isinstance(cur, str) else ""


def job_metadata_from_batch(batch: list, user_id_header: str) -> dict:
    """First-event job metadata (gateway/gateway.go:884-936): UserID,
    context.sources run ids, semver-validated SDK version. Returns the
    three landing-line fields; sdk_version is None when the first event
    carries no library info (Go leaves jobData.version zero)."""
    first = batch[0] if batch and isinstance(batch[0], dict) else {}
    anon_id = _stringified(first.get("anonymousId")).strip()
    user_id = _stringified(first.get("userId")).strip()
    sdk_name = _map_lookup_str(first, "context", "library", "name")
    sdk_version = _map_lookup_str(first, "context", "library", "version")
    if sdk_version and not _SEMVER_RE.search(sdk_version):
        sdk_version = "invalid"
    return {
        "job_user_id": build_user_id(user_id_header, anon_id, user_id),
        "params": {
            "source_job_run_id": _map_lookup_str(first, "context", "sources", "job_run_id"),
            "source_task_run_id": _map_lookup_str(first, "context", "sources", "task_run_id"),
        },
        "sdk_version": (sdk_name + "/" + sdk_version) if (sdk_name or sdk_version) else None,
    }


#: Full landing-line schema for readers that want the job metadata
#: (JobT.UserID / Parameters / version analogues) alongside the
#: payload; the streaming pipeline's ``payload string`` schema remains
#: a valid subset.
JOB_LINE_SCHEMA = (
    "payload string, job_user_id string,"
    " params struct<source_job_run_id: string, source_task_run_id: string>,"
    " sdk_version string"
)


@dataclass
class GatewayShim:
    landing_dir: str
    valid_write_keys: frozenset[str]
    max_batch: int = 32  # gateway.maxBatchSize
    batch_timeout_ms: int = 2000  # gateway.batchTimeoutInMS
    clock: object = None  # injectable for tests: () -> datetime
    _buffer: list[str] = field(default_factory=list)
    _last_flush: float = field(default_factory=time.monotonic)

    def _now(self) -> datetime:
        return self.clock() if self.clock else datetime.now(timezone.utc)

    def accept(
        self,
        body: dict,
        write_key: str,
        request_ip: str = "",
        req_type: str = "batch",
        user_id_header: str = "",
    ) -> bool:
        """One request → enqueued job line. Returns False (reject) on
        bad write key, like the 401 path. ``user_id_header`` is the
        reference's X-User-ID request header (gateway.go:640), folded
        into the job row's UserID via buildUserID."""
        if write_key not in self.valid_write_keys:
            return False
        if req_type != "batch" or "batch" not in body:
            # wrap single event, stamping the request type
            event = dict(body)
            if req_type != "batch":
                event["type"] = req_type
            body = {"batch": [event]}
        envelope = dict(body)
        envelope["writeKey"] = write_key
        envelope["requestIP"] = request_ip
        envelope["receivedAt"] = _rfc3339_milli(self._now())
        batch = envelope.get("batch") if isinstance(envelope.get("batch"), list) else []
        meta = job_metadata_from_batch(batch, user_id_header)
        line = {"payload": json.dumps(envelope)}
        line.update(meta)
        self._buffer.append(json.dumps(line))
        if len(self._buffer) >= self.max_batch or self._elapsed_ms() >= self.batch_timeout_ms:
            self.flush()
        return True

    def _elapsed_ms(self) -> float:
        return (time.monotonic() - self._last_flush) * 1000

    def flush(self) -> str | None:
        """Write buffered envelopes as one JSONL landing file (atomic
        rename so the streaming source never sees partial files)."""
        if not self._buffer:
            return None
        os.makedirs(self.landing_dir, exist_ok=True)
        # injectable-clock discipline (file-source contract only needs
        # uniqueness — the uuid suffix supplies it under a frozen clock)
        stamp = int(self._now().timestamp() * 1000)
        name = f"batch-{stamp}-{uuid.uuid4().hex[:8]}.json"
        tmp = os.path.join(self.landing_dir, "." + name + ".tmp")
        final = os.path.join(self.landing_dir, name)
        with open(tmp, "w") as f:
            f.write("\n".join(self._buffer) + "\n")
        os.rename(tmp, final)
        self._buffer.clear()
        self._last_flush = time.monotonic()
        return final
