"""Content-addressed identity for validated datasets.

Re-implements the reference's provenance semantics for a distributed engine:

- canonical JSON (reference ``src/fairy/core/services/provenance.py:28-30``):
  ``sort_keys=True, separators=(",", ":")``.
- params fingerprint (``provenance.py:33-36``): sha256 of canonical params.
- dataset fingerprint (``provenance.py:131-159`` + ADR-0006): versioned
  canonical payload of {inputs' sha256, rulepack id/version/sha256, params
  sha256, canon_version}; row/col counts deliberately excluded so the id is
  stable across cosmetic re-serialization.

At cluster scale we never re-hash 10^12 rows: a table's identity is its
snapshot id (Iceberg, or the content id the parquet-dir catalog's write
job observes). A parquet-directory input of a report is attested by the
sha256 of its sorted per-file (partition dir, size, content hash)
manifest. Whole-file sha256 streaming stays for small driver-side sidecar
files only.
"""

from __future__ import annotations

import hashlib
import json
import os
from typing import Any

CANON_VERSION = 1


def canonical_json(obj: Any) -> str:
    """Stable serialization: sorted keys, no whitespace."""
    return json.dumps(obj, sort_keys=True, separators=(",", ":"))


def sha256_hex(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()


def sha256_file(path: str, chunk: int = 65536, limit: int | None = None) -> str:
    """Streamed file hash (64 KiB chunks, as the reference's attestation
    scan does, ``rulepack_runner.py:73-78``) of the whole file, or of its
    first ``limit`` bytes. Driver-side, small files only."""
    h = hashlib.sha256()
    left = os.path.getsize(path) if limit is None else limit
    with open(path, "rb") as f:
        while left > 0:
            b = f.read(min(chunk, left))
            if not b:
                break
            h.update(b)
            left -= len(b)
    return h.hexdigest()


def _data_file_sha256(path: str) -> str:
    """Content hash of one data file of a table. A parquet file is hashed
    without its footer, whose column-chunk metadata lists encodings in an
    order that can differ between two JVMs writing the same rows; the
    pages before the footer plus the file's schema (names, types, writer
    key-value metadata) stand for its content. Other files: whole-file
    sha256."""
    size = os.path.getsize(path)
    with open(path, "rb") as f:
        f.seek(max(size - 8, 0))
        tail = f.read(8)
    if size < 12 or tail[4:] != b"PAR1":
        return sha256_file(path)
    import pyarrow.parquet as pq

    body = size - 8 - int.from_bytes(tail[:4], "little")
    schema = pq.read_schema(path).to_string(truncate_metadata=False, show_schema_metadata=True)
    return sha256_hex((sha256_file(path, limit=body) + schema).encode("utf-8"))


def compute_params_sha256(params: dict | None) -> str:
    return sha256_hex(canonical_json(params or {}).encode("utf-8"))


def compute_dataset_id(
    inputs_sha256: dict[str, str],
    rulepack_id: str,
    rulepack_version: str,
    rulepack_sha256: str,
    params_sha256: str,
) -> str:
    """``"sha256:" + sha256(canonical payload)`` — same shape as the
    reference (``provenance.py:131-159``)."""
    payload = {
        "canon_version": CANON_VERSION,
        "inputs": {name: {"sha256": h} for name, h in sorted(inputs_sha256.items())},
        "params": {"sha256": params_sha256},
        "rulepack": {
            "id": rulepack_id,
            "sha256": rulepack_sha256,
            "version": rulepack_version,
        },
    }
    return "sha256:" + sha256_hex(canonical_json(payload).encode("utf-8"))


def attestation_id(dataset_id: str) -> str:
    """PASS-only attestation id, minted by callers only when fail == 0
    (reference ``export_adapter.py:31-34,140-146``)."""
    return "fairy:attest:" + sha256_hex(dataset_id.encode("utf-8"))


def table_fingerprint(path: str) -> str:
    """Identity of a parquet-directory table: sha256 over the sorted
    (partition dir, size, content-sha256) manifest of its data files.

    File names are left out: Spark names files ``part-NNNNN-<job uuid>``,
    so two writes of identical content would otherwise get different ids.
    The partition directory (``k=3``) is kept, because there it carries
    data. Content hashes skip parquet footers (:func:`_data_file_sha256`),
    so the id also holds across processes.

    Report attestation uses it for parquet-directory inputs. Catalog
    tables are not re-hashed: their snapshot id comes from the write job
    (``sources/tables.ParquetDirCatalog``); the *contract* (stable string
    per immutable snapshot) is identical.
    """
    entries = []
    if os.path.isfile(path):
        return sha256_file(path)
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if fn.startswith(("_", ".")):
                continue
            fp = os.path.join(root, fn)
            part = os.path.relpath(root, path)
            entries.append((part, os.path.getsize(fp), _data_file_sha256(fp)))
    entries.sort()
    return sha256_hex(canonical_json(entries).encode("utf-8"))


def fixed_timestamp_or(now_iso: str) -> str:
    """Deterministic-report hook: the reference honors FAIRY_FIXED_TIMESTAMP
    for golden tests (``core/validation_api.py:98-102``); we keep the same
    env contract."""
    return os.environ.get("FAIRY_FIXED_TIMESTAMP", now_iso)
