"""Fingerprint-validated staging cache.

Several queries stage derived copies of the driver's parquet fixtures
under the tempdir (multi-file splits for real multi-micro-batch streams,
mixed-generation directories for schema evolution). Cache validity must
be judged against the SOURCE, not mere existence of the staged files: a
regenerated fixture at the same path would otherwise serve stale rows,
and a crash mid-write would leave a partial dir that "exists" (round-2
review finding). The contract here: the staged dir is valid iff every
wanted file exists AND a ``_source_fingerprint`` marker — written ONLY
after the build completes — records the source's current
``catalog.file_fingerprint``: (file, size, mtime_ns) of every parquet
file under it, so a file rewritten in place inside a directory source
invalidates the copy although the directory's own stat is unchanged.
One implementation, shared by every staging site, so the validity
invariant cannot drift between copies (round-3 review finding); the
same rule keys ``catalog.table_facts``.

Mutable per-run scratch (streaming checkpoints, sink dirs, round-trip
writes) lives beside it, in ``pid_scratch_dirs``."""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable

from big_data_streaming_spark.sources.catalog import file_fingerprint


def fingerprint_cached_dir(
    src: str, dst: str, want: list[str], build: Callable[[], None]
) -> str:
    """Return ``dst``, rebuilding it via ``build()`` unless every path in
    ``want`` exists and the marker matches ``src``'s fingerprint."""
    fingerprint = repr(file_fingerprint(src))
    marker = os.path.join(dst, "_source_fingerprint")
    if (
        all(os.path.isfile(p) for p in want)
        and os.path.isfile(marker)
        and open(marker).read() == fingerprint
    ):
        return dst
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    build()
    with open(marker, "w") as fh:
        fh.write(fingerprint)
    return dst


def pid_scratch_dirs(family: str, sf_dir: str) -> tuple[str, str]:
    """Per-process (out_dir, ckpt_dir) for a query's LIVE mutable state:
    two processes running the same key concurrently on one box (parallel
    preflight + invariance harnesses) must not share a checkpoint log
    (Spark aborts with CONCURRENT_STREAM_LOG_UPDATE), so the tag carries
    the pid — deterministic within a process.

    Bounded-growth policy (ADVICE r10): the pid is kept READABLE in the
    dir name, and stale siblings whose owning process is gone are
    reclaimed best-effort on each call, so repeated harness runs do not
    march tempdir toward ENOSPC. Live siblings (other pids still
    running) are never touched."""
    base = os.path.join(tempfile.gettempdir(), "bdss_stream_stage")
    os.makedirs(base, exist_ok=True)
    pid = os.getpid()
    prefix = f"{family}_pid"
    for entry in os.listdir(base):
        if not entry.startswith(prefix):
            continue
        try:
            owner = int(entry[len(prefix):].split("_", 1)[0])
        except ValueError:
            continue
        if owner == pid:
            continue
        try:
            os.kill(owner, 0)  # raises if the owner is gone
        except ProcessLookupError:
            shutil.rmtree(os.path.join(base, entry), ignore_errors=True)
        except Exception:
            # PermissionError: someone else's live process — leave it.
            # OverflowError/OSError (ADVICE r11): a corrupt/adversarial
            # entry whose parsed "pid" exceeds pid_t must not fail the
            # query; keep the entry on ANY unexpected error.
            pass
    tag = hashlib.md5(f"{family}:{sf_dir}".encode()).hexdigest()[:10]
    out_dir = os.path.join(base, f"{prefix}{pid}_{tag}")
    ckpt_dir = os.path.join(base, f"{prefix}{pid}_ckpt_{tag}")
    for d in (out_dir, ckpt_dir):  # fresh run: replayed batches would
        if os.path.isdir(d):  # double-append rows (leak policy: reuse
            shutil.rmtree(d)  # the deterministic path, not the contents)
        os.makedirs(d, exist_ok=True)
    return out_dir, ckpt_dir
