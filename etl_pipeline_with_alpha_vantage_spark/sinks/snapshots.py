"""Versioned snapshot log over plain parquet — time travel, rollback,
and vacuum without a table format (SURVEY.md §2 L2 family, alongside
``maintenance.merge_into``).

The mechanism is the one Delta/Iceberg build on: data files are
immutable, and a tiny JSON manifest per commit lists exactly the files
that make up that version. Readers resolve a manifest and scan ONLY its
files; writers add files and a new manifest, never mutating old ones —
so every historical version stays readable (time travel) until a
vacuum explicitly drops files no retained manifest references.

Layout:

    <table>/_snapshots/v00000001.json   one manifest per committed version
    <table>/_snapshots/_last            latest-version pointer (hint)
    <table>/data/v00000001/part-*.parquet   immutable data files

Manifests are published via temp-file + atomic PUT-IF-ABSENT (hard
link, which fails with EEXIST if the version is already taken — the
filesystem twin of a conditional put on an object store); a crashed
writer leaves either no manifest (invisible partial data, cleaned by an
age-gated vacuum) or a complete one.

Latest resolution is O(1), not O(total versions): the ``_last`` pointer
(Delta's ``_last_checkpoint`` device, refreshed best-effort after every
publish) names a committed version, and because versions are dense the
reader probes forward from the hint until the next manifest is absent.
A missing/stale/corrupt pointer degrades safely to the full listing.
Idempotence tokens are likewise O(1): each manifest inherits a
cumulative ``txns`` token→version map from its parent, so a duplicate
commit is detected from the latest manifest alone and tokens survive
overwrites AND vacuum.

Concurrency (Delta-style optimistic protocol): each writer stages its
data files under a UNIQUE directory, then tries to publish manifest
version N = latest+1. Exactly one concurrent writer wins the
put-if-absent; the loser re-reads the log and retries against the new
latest — an ``append`` rebases its file list on the winner's manifest
(blind appends commute, as under Delta's WriteSerializable), an
``overwrite`` simply replaces the newer state. A writer that pinned
``expected_parent`` (read-modify-write, e.g. MERGE) instead raises
``SnapshotConflictError`` when the parent moved, because its staged
files were derived from a stale read — the caller must re-derive and
retry, exactly Delta's ConcurrentModificationException contract.

Reference parity: the reference keeps one mutable MySQL table with no
history (`/root/reference/etl.py:110-156`); the snapshot log is what a
lake needs instead — reproducible reads ("train on v7") and instant
rollback from a bad load.
"""

from __future__ import annotations

import json
import os
import tempfile
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

_SNAP_DIR = "_snapshots"
_DATA_DIR = "data"
_LAST_PTR = "_last"


class SnapshotConflictError(RuntimeError):
    """A concurrent writer committed first and the commit could not be
    (or was asked not to be) rebased — re-derive from the new latest
    version and retry."""


def _manifest_dir(path: str) -> str:
    return os.path.join(path, _SNAP_DIR)


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(_manifest_dir(path), f"v{version:08d}.json")


def _list_versions(path: str) -> list[int]:
    d = _manifest_dir(path)
    if not os.path.isdir(d):
        return []
    out = []
    for f in os.listdir(d):
        if f.startswith("v") and f.endswith(".json"):
            try:
                out.append(int(f[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def _read_manifest(path: str, version: int) -> dict:
    with open(_manifest_path(path, version)) as f:
        return json.load(f)


def _last_ptr_path(path: str) -> str:
    return os.path.join(_manifest_dir(path), _LAST_PTR)


def _read_last_ptr(path: str) -> int | None:
    try:
        with open(_last_ptr_path(path)) as f:
            v = json.load(f).get("version")
    except (OSError, ValueError):
        return None
    return v if isinstance(v, int) and v >= 1 else None


def _write_last_ptr(path: str, version: int) -> None:
    """Best-effort refresh of the ``_last`` pointer (Delta's
    ``_last_checkpoint`` device). Atomic replace, last-writer-wins: a
    racing older writer may briefly regress the hint, which only costs
    the next reader a forward probe — never correctness, because
    ``_latest_version`` verifies the hinted manifest exists and probes
    forward from it."""
    d = _manifest_dir(path)
    try:
        fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump({"version": version}, f)
        os.replace(tmp, _last_ptr_path(path))
    except OSError:
        pass  # the pointer is a hint; losing an update is harmless


def _latest_version(path: str) -> int | None:
    """Resolve the latest committed version in O(1) + a short forward
    probe: versions are dense (each commit is parent+1), so from a
    valid pointer hint we stat successive manifests until one is
    absent. A missing, corrupt, regressed-then-vacuumed, or ahead-of-log
    pointer degrades safely to the full directory listing."""
    hint = _read_last_ptr(path)
    if hint is not None and os.path.exists(_manifest_path(path, hint)):
        v = hint
        while os.path.exists(_manifest_path(path, v + 1)):
            v += 1
        return v
    versions = _list_versions(path)
    return versions[-1] if versions else None


def _txn_version(path: str, latest: int, txn: str) -> int | None:
    """Version that already committed ``txn``, or None. O(1) via the
    cumulative token map the latest manifest carries; legacy manifests
    without a map fall back to the full history scan."""
    m = _read_manifest(path, latest)
    if "txns" in m:
        v = m["txns"].get(txn)
        return int(v) if v is not None else None
    for v in _list_versions(path):
        if _read_manifest(path, v).get("txn") == txn:
            return v
    return None


def _parent_txns(path: str, parent: int | None) -> dict[str, int]:
    """The cumulative token map to inherit: the parent's ``txns`` when
    present, else (legacy chain) rebuilt from a one-time history scan."""
    if parent is None:
        return {}
    pm = _read_manifest(path, parent)
    if "txns" in pm:
        return dict(pm["txns"])
    out: dict[str, int] = {}
    for v in _list_versions(path):
        if v > parent:
            continue
        t = _read_manifest(path, v).get("txn")
        if t is not None:
            out[t] = v
    return out


def _try_publish(path: str, manifest: dict) -> bool:
    """Atomically publish a manifest IF its version is still free.

    Full content goes to a temp file first, then ``os.link`` claims the
    final name — a hard link either creates the name or fails with
    EEXIST, never exposing partial content and never overwriting a
    concurrent winner (the put-if-absent every log-structured commit
    protocol needs; on an object store this is a conditional PUT).
    Returns False when a concurrent writer took the version first.
    """
    d = _manifest_dir(path)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
            f.write("\n")
        try:
            os.link(tmp, _manifest_path(path, manifest["version"]))
            return True
        except FileExistsError:
            return False
    finally:
        os.unlink(tmp)


def snapshot_commit(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    mode: str = "append",
    expected_parent: int | None = None,
    max_retries: int = 10,
    txn: str | None = None,
) -> int:
    """Commit ``df`` as a new snapshot version; returns the version.

    ``mode="append"`` adds the new files to the parent version's file
    list; ``mode="overwrite"`` starts the list fresh. Either way, no
    existing file is touched — history stays readable.

    Optimistic concurrency: data files are staged under a unique
    directory, then the manifest is published put-if-absent. Losing a
    version race is recoverable for blind writes, so the commit rebases
    on the winner and retries (append keeps both writers' files;
    overwrite replaces the newer state). Passing ``expected_parent``
    declares the write DERIVED from that version (read-modify-write,
    e.g. MERGE): if any other writer commits first, the staged result
    is stale and ``SnapshotConflictError`` is raised instead — the
    caller re-reads and re-derives, Delta's conflict contract.

    ``txn`` is an idempotence token (Delta's txnAppId/txnVersion): if
    the log already carries it, the commit is a no-op returning the
    version that committed it — a retried writer (foreachBatch replay,
    restarted job) can never double-append. Tokens live in a cumulative
    ``txns`` map each manifest inherits from its parent, so the check
    is one manifest read (not a history scan) and tokens SURVIVE both
    overwrites and vacuum — the map grows with the token count, the
    same O(commits) class as an append chain's file list, and is the
    per-appId compaction Delta does in its checkpoints.

    Every operation resolves the latest version through the ``_last``
    pointer + dense forward probe (O(1), never a full directory
    listing); the pointer is refreshed best-effort after each publish.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    if txn is not None:
        latest = _latest_version(path)
        if latest is not None:
            v = _txn_version(path, latest, txn)
            if v is not None:
                return v
    data_sub = os.path.join(_DATA_DIR, f"w-{uuid.uuid4().hex[:16]}")
    df.write.mode("overwrite").parquet(os.path.join(path, data_sub))
    new_files = sorted(
        os.path.join(data_sub, f)
        for f in os.listdir(os.path.join(path, data_sub))
        if f.endswith(".parquet") or f.startswith("part-")
    )
    new_files = [f for f in new_files if not f.endswith(".crc")]
    for _attempt in range(max_retries + 1):
        parent = _latest_version(path)
        if txn is not None and parent is not None:
            # Re-check per attempt: a concurrent retry carrying the same
            # token may have won a version race we are about to rebase
            # over.
            v = _txn_version(path, parent, txn)
            if v is not None:
                return v
        if expected_parent is not None and parent != expected_parent:
            raise SnapshotConflictError(
                f"expected parent version {expected_parent} at {path} but "
                f"latest is {parent} — a concurrent writer committed; "
                "re-derive from the new latest and retry"
            )
        version = (parent + 1) if parent is not None else 1
        files = list(new_files)
        if mode == "append" and parent is not None:
            files = _read_manifest(path, parent)["files"] + files
        txns = _parent_txns(path, parent)
        if txn is not None:
            txns[txn] = version
        manifest = {
            "version": version,
            "parent": parent,
            "mode": mode,
            "files": files,
            "txns": txns,
        }
        if txn is not None:
            manifest["txn"] = txn
        if _try_publish(path, manifest):
            _write_last_ptr(path, version)
            return version
        # Lost the put-if-absent: rebase on the winner and go again.
    raise SnapshotConflictError(
        f"gave up after {max_retries} rebase retries at {path} — "
        "writer contention too high"
    )


def read_snapshot(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read a snapshot — the latest by default, or any retained
    historical ``version`` (time travel). Scans exactly the manifest's
    files, so a version's result never changes after commit. Latest
    resolves through the ``_last`` pointer in O(1); an explicit
    ``version`` is a single manifest stat — neither lists the log
    directory."""
    if version is None:
        v = _latest_version(path)
        if v is None:
            raise FileNotFoundError(f"no snapshots at {path}")
    else:
        v = version
        if not os.path.exists(_manifest_path(path, v)):
            raise FileNotFoundError(
                f"version {v} not retained at {path} (never committed, "
                "or dropped by vacuum)"
            )
    manifest = _read_manifest(path, v)
    if not manifest["files"]:
        raise ValueError(
            f"version {v} has no data files (empty commit) — schema-less "
            "empty snapshots are not representable without a stored schema"
        )
    return spark.read.parquet(
        *[os.path.join(path, f) for f in manifest["files"]]
    )


def snapshot_history(path: str) -> list[dict]:
    """All manifests, oldest first (version/parent/mode/file count)."""
    out = []
    for v in _list_versions(path):
        m = _read_manifest(path, v)
        out.append(
            {
                "version": m["version"],
                "parent": m["parent"],
                "mode": m["mode"],
                "n_files": len(m["files"]),
            }
        )
    return out


def rollback(spark: SparkSession, path: str, version: int) -> int:
    """Restore the table to ``version`` by committing a NEW version
    whose file list is the old one (Delta RESTORE semantics): history
    including the bad commits is preserved, readers see the restored
    data, and no file is rewritten. Returns the new version."""
    if not os.path.exists(_manifest_path(path, version)):
        raise FileNotFoundError(
            f"version {version} not retained at {path}"
        )
    old = _read_manifest(path, version)
    for _attempt in range(10):
        latest = _latest_version(path)
        if _try_publish(
            path,
            {
                "version": latest + 1,
                "parent": latest,
                "mode": f"rollback:{version}",
                "files": old["files"],
                "txns": _parent_txns(path, latest),
            },
        ):
            _write_last_ptr(path, latest + 1)
            return latest + 1
    raise SnapshotConflictError(f"rollback lost 10 version races at {path}")


def vacuum(
    spark: SparkSession,
    path: str,
    keep_last: int = 1,
    min_age_sec: float = 3600.0,
) -> int:
    """Drop data files referenced ONLY by manifests older than the last
    ``keep_last`` versions, plus SUFFICIENTLY OLD orphans from crashed
    commits. Returns the number of files deleted.

    Retention contract (Delta VACUUM semantics): time travel remains
    valid for exactly the retained versions — a reader pinned to an
    older version fails once its manifest is dropped, so readers must
    either finish within the vacuum cadence or pin a version inside
    ``keep_last``. Idempotence tokens are NOT lost: they live in the
    cumulative ``txns`` map of every retained manifest.

    Concurrency: files whose manifests are being dropped are deleted
    immediately (they were durably committed and aged out of
    retention), but files referenced by NO manifest are only deleted
    when older than ``min_age_sec`` — a younger unreferenced file is an
    IN-FLIGHT writer's staged data whose manifest hasn't published yet,
    and unlinking it would crash that writer mid-commit. The same age
    gate covers ``*.tmp`` manifest staging files. With the gate at its
    default, vacuum is safe to run concurrently with writers whose
    stage-to-publish window is under an hour; ``min_age_sec=0`` restores
    the aggressive cleanup and requires writer exclusivity.
    """
    versions = _list_versions(path)
    if not versions:
        return 0
    keep_versions = versions[-keep_last:]
    keep_files = set()
    for v in keep_versions:
        keep_files.update(_read_manifest(path, v)["files"])
    dropped_files = set()
    for v in versions[:-keep_last]:
        dropped_files.update(_read_manifest(path, v)["files"])
    dropped_files -= keep_files
    now = time.time()
    removed = 0
    data_root = os.path.join(path, _DATA_DIR)
    for root, _dirs, files in os.walk(data_root):
        for f in files:
            full = os.path.join(root, f)
            rel = os.path.relpath(full, path)
            if rel in keep_files or not (
                f.endswith(".parquet") or f.startswith("part-")
            ):
                continue
            if rel not in dropped_files:
                # Referenced by no manifest at all: possibly a live
                # writer's staged data — only remove when aged out.
                try:
                    if now - os.path.getmtime(full) < min_age_sec:
                        continue
                except OSError:
                    continue  # vanished: its writer just published/cleaned
            try:
                os.remove(full)
                removed += 1
            except OSError:
                pass
    for v in versions[:-keep_last]:
        try:
            os.remove(_manifest_path(path, v))
        except OSError:
            pass  # concurrent vacuum already removed it
    # Temp manifests from crashed writers (fsync'd but never linked) —
    # age-gated for the same reason: a fresh .tmp belongs to a writer
    # between mkstemp and os.link, and os.link on a vanished source
    # raises FileNotFoundError instead of a clean conflict.
    d = _manifest_dir(path)
    for f in os.listdir(d):
        if f.endswith(".tmp"):
            full = os.path.join(d, f)
            try:
                if now - os.path.getmtime(full) >= min_age_sec:
                    os.remove(full)
            except OSError:
                pass
    # Repair the latest pointer if it referenced a dropped version.
    if _read_last_ptr(path) not in keep_versions:
        _write_last_ptr(path, keep_versions[-1])
    return removed
