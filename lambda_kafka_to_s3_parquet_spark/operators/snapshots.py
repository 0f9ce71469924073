"""Snapshot-committed tables: atomic commits, time travel, rollback.

The reference lands one parquet file per Lambda invocation directly into
its final S3 prefix (``lambda_function.py:59``) — a reader racing the
write sees partial state, and a crashed overwrite loses data. The
engine's maintained tables (rollup, CDC state) documented this as the
"Delta/Iceberg upgrade path"; this module implements the minimal honest
version of that idea, from public designs (Iceberg's manifest +
atomic-pointer protocol), with no new file format:

* every commit writes its files under a fresh ``data/<commit id>/``
  directory — NEVER into a path a reader could already be scanning;
* metadata is TWO-LEVEL (round 13 — Iceberg's manifest-list shape):
  each commit writes ONE immutable per-commit manifest file
  (``_snapshots/c-<token>.json``: its own dirs per partition, zone
  maps, per-dir blooms, per-commit schemas; TABLE-RELATIVE paths, so
  the table can move and its own path may itself contain a ``/data/``
  segment) plus a small ROOT manifest whose entries REFERENCE the live
  commit manifests (carrying a pkey summary and an optional ``live``
  filter a replacement narrowed) alongside the table-level state (op,
  meta, schema union, column maps, rename/drop/pcol logs, delete
  entries). A commit therefore writes O(its own delta), never O(table)
  — the per-dir blooms/stats of prior commits are referenced, not
  rewritten — and readers assemble the combined view from cached
  immutable files (:func:`_load_manifest`);
* each commit ATTEMPT writes its root to a unique token path
  (``v<version>-<token>.json``) — never a path another writer could
  contend for — then publishes by atomically creating the version's
  ``_snapshots/latest-<version>`` marker whose CONTENT names the
  root file. The marker create is a rename to a FRESH path — atomic
  on every Hadoop filesystem without overwrite-rename semantics — so it
  is a real compare-and-swap: exactly one of N racing writers creates
  it. ``current_version`` is the max marker present; markers are
  RETAINED per version (they are the version→manifest-file map that
  time travel resolves through) until :func:`snapshot_expire` reclaims
  them with their manifests (commit manifests live as long as ANY
  retained root references them). A root without its version's marker
  (a crash before publish, or a CAS loser) is an uncommitted phantom:
  history hides it, time travel refuses it, expire vacuums it — the
  loser's commit manifest is REUSED by its rebase, or vacuumed too.

Readers resolve a committed manifest and scan exactly the referenced
directories — so "overwrite" never races a concurrent read of the same
files (the race ADVICE flagged in the in-place dynamic-overwrite rollup
merge), and every prior snapshot stays readable until expired.

Optimistic concurrency (Iceberg-shaped, see :func:`_commit`): a writer
that loses the marker CAS classifies its commit. APPEND-class commits
(``replaced`` empty and no ``restore`` — plain appends, insert-only
merges, the consumers' meta-only marks) REBASE onto the winner's
manifest and retry: the data directories are already on disk under
fresh commit ids and need no rewrite, only the manifest merge re-runs
against the new base (schema union revalidated, meta key-merged so
neither writer's high-water mark is lost). REPLACEMENT-class commits
(overwrite, delete, merge touching live rows, rewrite, rollback)
fail-stop with :class:`SnapshotConflictError` naming the conflict —
their read-set was the old base, so retrying silently could undo the
winner (snapshot isolation, not serializability; same default as
Iceberg's concurrent-append validation). A failed replacement's
orphaned data dirs are reclaimed by :func:`snapshot_expire`.

Commits may carry a small ``meta`` dict inside the manifest (e.g. the
maintenance streams' batch-id high-water mark): because the manifest IS
the commit, data + meta publish in ONE atomic pointer swap — the
upgrade that closes the crash window between "merge landed" and
"marker written" that any two-step side-car marker necessarily has.
Commits that don't pass ``meta`` INHERIT the previous snapshot's (so a
compaction/expire/purge between stream batches never erases the
high-water mark).

Scale notes: manifests list directories, not files — O(live partitions ×
commits-touching-them) entries, compacted by :func:`snapshot_rewrite`
(which also bounds small files AND folds the manifest-entry list and
any merge-on-read delete entries; :func:`snapshot_expire` then reclaims
superseded directories, roots, unreferenced commit manifests and delete
files). Reads reconstruct partition columns per commit directory via
``basePath``, so partition pruning still reaches the scan
(plan-asserted in tests). Row-level deletes have a merge-on-read form
(:func:`snapshot_delete_keys`: key files anti-joined at read for
exactly the dirs live at delete time) next to the copy-on-write
:func:`snapshot_delete_where`; partition columns RENAME as a metadata
fold (:func:`_pcol_map`).
"""

from __future__ import annotations

import hashlib
import json
import re
import time
import uuid
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sink import _norm_stat

_SNAP_DIR = "_snapshots"
_MARKER_RE = re.compile(r"^latest-(\d+)$")
#: legacy fixed-name manifests (pre-CAS layout) + CAS token manifests
_MANIFEST_FILE_RE = re.compile(r"^v(\d+)(?:-[0-9a-f]+)?\.json$")
#: CAS losers rebase-and-retry this many times before giving up — each
#: retry re-reads the new base, so exhausting it means sustained
#: contention, not a protocol failure
_COMMIT_MAX_RETRIES = 10


class SnapshotConflictError(RuntimeError):
    """A concurrent committer won the version CAS and this commit's
    class cannot rebase (replacement commits read the old base; blindly
    retrying could silently undo the winner). The loser's data dirs are
    unreferenced orphans — :func:`snapshot_expire` reclaims them."""


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def _read_text(spark, path: str) -> str | None:
    """Read a small metadata file; ``None`` when absent. Open-and-catch
    rather than exists()+open: metadata reads are the driver's hot loop
    and the pre-check doubles the filesystem round-trips (it is also a
    TOCTOU no-op — the open can still race a delete either way)."""
    fs, jvm = _fs(spark, path)
    p = jvm.org.apache.hadoop.fs.Path(path)
    try:
        stream = fs.open(p)
    except Exception as e:
        if "FileNotFoundException" in str(e):
            return None
        raise
    try:
        return bytes(stream.readAllBytes()).decode("utf-8")
    finally:
        stream.close()


def _create_atomic(spark, path: str, content: str) -> None:
    """Write via temp file + rename to a FRESH destination (never an
    overwrite) — atomic on every Hadoop filesystem. Used for the
    visibility markers, whose names are unique by construction."""
    fs, jvm = _fs(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(path + f".tmp-{uuid.uuid4().hex}")
    final = jvm.org.apache.hadoop.fs.Path(path)
    stream = fs.create(tmp, True)
    try:
        stream.write(bytearray(content.encode("utf-8")))
    finally:
        stream.close()
    if not fs.rename(tmp, final):
        fs.delete(tmp, False)
        raise IOError(f"atomic create failed for {path} (already exists?)")


def _replace_text(spark, path: str, content: str) -> None:
    """Write with OVERWRITE semantics (tmp + delete-dest + rename). Used
    for manifests: their visibility point is the marker, not the file —
    an uncommitted manifest is invisible (phantom guard), so replacing
    one is safe, and a crashed commit's retry MUST be able to rewrite
    the phantom its predecessor left (rename-to-existing fails on
    HDFS/S3A; refusing would wedge the table forever)."""
    fs, jvm = _fs(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(path + f".tmp-{uuid.uuid4().hex}")
    final = jvm.org.apache.hadoop.fs.Path(path)
    stream = fs.create(tmp, True)
    try:
        stream.write(bytearray(content.encode("utf-8")))
    finally:
        stream.close()
    fs.delete(final, False)
    if not fs.rename(tmp, final):
        fs.delete(tmp, False)
        raise IOError(f"replace failed for {path}")


def _now() -> float:
    """Commit wall clock — a seam so tests can pin deterministic
    instants (monkeypatch this, not time.time)."""
    return time.time()


def _manifest_path(table: str, version: int, token: str | None = None) -> str:
    """Token manifests (CAS layout) live at ``v<version>-<token>.json``;
    the token-less form is the legacy pre-CAS fixed name, kept readable
    for tables written before the upgrade."""
    if token:
        return f"{table}/{_SNAP_DIR}/v{version:05d}-{token}.json"
    return f"{table}/{_SNAP_DIR}/v{version:05d}.json"


def _marker_path(table: str, version: int, branch: str | None = None) -> str:
    """Version marker path — the CAS cell. Branches get their own
    namespace (``ref-<name>-<version>``) so commits to a branch never
    contend with main's markers (per-branch conflict classes), and
    ``_MARKER_RE``/``current_version`` never see them."""
    if branch is not None:
        return f"{table}/{_SNAP_DIR}/ref-{branch}-{version:05d}"
    return f"{table}/{_SNAP_DIR}/latest-{version:05d}"


#: (table, version) -> committed manifest basename. Safe to cache: a
#: version's marker content never changes after the CAS create (expire
#: deletes the pair together, and the read-miss path below re-resolves).
_RESOLVE_CACHE: dict[tuple[str, int], str] = {}


def _resolve_manifest_file(
    spark: SparkSession, table: str, version: int, branch: str | None = None
) -> str:
    """Full path of the COMMITTED manifest for ``version``: the marker's
    content names the file (CAS layout); a bare version number or a
    missing marker (pre-upgrade history, whose old markers were deleted
    at swap time) falls back to the legacy fixed name.

    On a BRANCH, versions past the fork point resolve through the
    branch's own markers (always CAS-written — a missing one is an
    error, never a legacy fallback); versions at or before the fork are
    SHARED HISTORY and resolve through main."""
    if branch is not None:
        bmeta = _branch_meta(spark, table, branch)
        if bmeta is None:
            raise KeyError(f"unknown branch {branch!r} on {table}")
        if version > bmeta["from_version"]:
            key = (table, f"b:{branch}:{version}")
            basename = _RESOLVE_CACHE.get(key)
            if basename is None:
                content = _read_text(
                    spark, _marker_path(table, version, branch=branch)
                )
                if content is None or not _MANIFEST_FILE_RE.match(content.strip()):
                    raise FileNotFoundError(
                        f"branch {branch!r} of {table} has no committed "
                        f"v{version}"
                    )
                basename = content.strip()
                if len(_RESOLVE_CACHE) > 4096:
                    _RESOLVE_CACHE.clear()
                _RESOLVE_CACHE[key] = basename
            return f"{table}/{_SNAP_DIR}/{basename}"
        # fall through: shared pre-fork history lives on main
    key = (table, version)
    basename = _RESOLVE_CACHE.get(key)
    if basename is None:
        content = _read_text(spark, _marker_path(table, version))
        if content is not None and _MANIFEST_FILE_RE.match(content.strip()):
            basename = content.strip()
        else:
            basename = f"v{version:05d}.json"
        if len(_RESOLVE_CACHE) > 4096:
            _RESOLVE_CACHE.clear()
        _RESOLVE_CACHE[key] = basename
    return f"{table}/{_SNAP_DIR}/{basename}"


def _branch_meta_path(table: str, name: str) -> str:
    return f"{table}/{_SNAP_DIR}/branches/{name}.json"


def _branch_meta(spark: SparkSession, table: str, name: str) -> dict | None:
    """A branch's immutable creation record ``{"from_version": v}`` —
    the fork point; None when the branch doesn't exist."""
    txt = _read_text(spark, _branch_meta_path(table, name))
    return None if txt is None else json.loads(txt)


def current_version(
    spark: SparkSession, table: str, branch: str | None = None
) -> int:
    """Latest COMMITTED snapshot version (0 = empty/uninitialized): the
    max ``latest-<version>`` marker present. Globs ONLY the markers —
    this is the hot metadata call (2-3x per verb), and iterating the
    whole ``_snapshots`` listing pays per-entry JVM round-trips for the
    roots/commit-manifests too (measured ~3x the wall on a 40-commit
    table; the round-13 two-level stress row exposed it).

    With ``branch``, the branch's HEAD: the max ``ref-<name>-*`` marker,
    or the fork point when the branch has no commits of its own yet."""
    fs, jvm = _fs(spark, table)
    if branch is not None:
        bmeta = _branch_meta(spark, table, branch)
        if bmeta is None:
            raise KeyError(f"unknown branch {branch!r} on {table}")
        pattern = jvm.org.apache.hadoop.fs.Path(
            f"{table}/{_SNAP_DIR}/ref-{branch}-*"
        )
        statuses = fs.globStatus(pattern)
        best = bmeta["from_version"]
        prefix = f"ref-{branch}-"
        for st in statuses or []:
            name = st.getPath().getName()
            tail = name[len(prefix):]
            if tail.isdigit():
                best = max(best, int(tail))
        return best
    pattern = jvm.org.apache.hadoop.fs.Path(f"{table}/{_SNAP_DIR}/latest-*")
    statuses = fs.globStatus(pattern)
    if statuses is None:
        return 0
    best = 0
    for st in statuses:
        m = _MARKER_RE.match(st.getPath().getName())
        if m:
            best = max(best, int(m.group(1)))
    return best


def _publish_cas(
    spark: SparkSession,
    table: str,
    version: int,
    basename: str,
    branch: str | None = None,
) -> bool:
    """The commit CAS: atomically create ``version``'s marker naming the
    manifest file. Exactly one of N racing writers succeeds (fresh-path
    rename fails on an existing destination on every Hadoop FS — the
    same primitive the zone-map sidecar's versioned publish uses).
    Returns False when the marker already exists (this writer LOST);
    re-raises real I/O failures. Markers are retained per version — they
    are the version→file map time travel resolves through — until
    :func:`snapshot_expire` reclaims them with their manifests."""
    marker = _marker_path(table, version, branch=branch)
    try:
        _create_atomic(spark, marker, basename)
        return True
    except IOError:
        fs, jvm = _fs(spark, table)
        if fs.exists(jvm.org.apache.hadoop.fs.Path(marker)):
            return False
        raise


def _load_root(
    spark: SparkSession,
    table: str,
    version: int,
    committed: int | None = None,
    branch: str | None = None,
) -> dict:
    """The version's ROOT manifest (manifest list), unassembled:
    format-2 roots carry small table-level state (op, meta, dschema,
    colmaps/dropcols, rename/drop logs) plus a ``manifests`` entry list
    referencing immutable per-commit manifest files; legacy roots
    (pre-round-13 monoliths) inline everything. ``committed`` lets
    hot-path callers that already resolved ``current_version`` skip
    re-listing ``_snapshots`` (one LIST per call matters on S3).
    ``branch`` resolves post-fork versions through the branch's own
    markers (pre-fork versions are shared main history)."""
    if version == 0:
        return {"version": 0, "partitions": {}}
    if committed is None:
        committed = current_version(spark, table, branch=branch)
    if version > committed:
        where = f"branch {branch!r} of {table}" if branch else table
        raise FileNotFoundError(
            f"snapshot v{version} of {where} is not committed (latest is "
            f"v{committed}; a manifest without its marker is a crash "
            "leftover, not a snapshot)"
        )
    txt = _read_text(
        spark, _resolve_manifest_file(spark, table, version, branch=branch)
    )
    if txt is None:
        # a cached resolution can go stale when a table is dropped and
        # recreated at the same path — re-resolve once before concluding
        _RESOLVE_CACHE.pop((table, version), None)
        if branch is not None:
            _RESOLVE_CACHE.pop((table, f"b:{branch}:{version}"), None)
        txt = _read_text(
            spark, _resolve_manifest_file(spark, table, version, branch=branch)
        )
    if txt is None:
        raise FileNotFoundError(
            f"snapshot v{version} of {table} does not exist (expired?); "
            f"history: {[s['version'] for s in snapshot_history(spark, table)]}"
        )
    return json.loads(txt)


#: (table-qualified path) -> parsed commit-manifest content. Safe to
#: cache unbounded-ish: commit manifests are IMMUTABLE by construction
#: (a rebase reuses the same file; only roots are re-derived), and the
#: token in the name makes cross-table collisions impossible.
_CFILE_CACHE: dict[str, dict] = {}

_CFILE_RE = re.compile(r"^c-[0-9a-f]+\.json$")


def _load_cfile(spark: SparkSession, table: str, fname: str) -> dict:
    """A per-commit manifest file's content: ``{"partitions": {pkey:
    [dirs]}, "stats": {...}, "blooms": {...}, "cschemas": {...}}``.
    Legacy MONOLITH manifests referenced as entries (the upgrade path:
    a rollback target, or the first format-2 commit over a pre-upgrade
    table) parse through the same reader — they carry the same keys
    plus root-level extras that assembly ignores."""
    path = f"{table}/{_SNAP_DIR}/{fname}"
    m = _CFILE_CACHE.get(path)
    if m is None:
        txt = _read_text(spark, path)
        if txt is None:
            raise FileNotFoundError(
                f"commit manifest {path} is missing — referenced by a "
                "live root but deleted (out-of-band cleanup?)"
            )
        m = json.loads(txt)
        if len(_CFILE_CACHE) > 1024:
            _CFILE_CACHE.clear()
        _CFILE_CACHE[path] = m
    return m


def _root_entries(root: dict) -> list[dict]:
    """The root's manifest-entry list; a LEGACY monolith root reads as
    ONE virtual entry inlining its own content (``file=None`` — the
    next commit materializes the reference by pointing at the legacy
    manifest file itself, which stays on disk for time travel)."""
    if "manifests" in root:
        return root["manifests"]
    parts = root.get("partitions", {})
    if not parts:
        return []
    return [
        {
            "file": None,
            "pkeys": sorted(parts),
            "live": parts,
            "_inline": {
                "partitions": parts,
                "stats": root.get("stats", {}),
                "blooms": root.get("blooms", {}),
                "cschemas": root.get("cschemas", {}),
            },
        }
    ]


def _entry_content(spark: SparkSession, table: str, e: dict) -> dict:
    """An entry's commit-manifest content (inline for the legacy
    virtual entry, loaded+cached otherwise)."""
    if e.get("file") is None:
        return e["_inline"]
    return _load_cfile(spark, table, e["file"])


def _entry_parts(spark: SparkSession, table: str, e: dict) -> dict:
    """The LIVE ``{pkey: [dirs]}`` map an entry contributes: its
    explicit ``live`` filter when a replacement narrowed it, else the
    referenced manifest's full partition map."""
    if e.get("live") is not None:
        return e["live"]
    return _entry_content(spark, table, e)["partitions"]


def _assemble(spark: SparkSession, table: str, root: dict) -> dict:
    """Materialize the legacy manifest VIEW from a root: the dict shape
    every reader consumes (``partitions``/``stats``/``blooms``/
    ``cschemas`` + the root's own table-level keys). Legacy roots ARE
    that view already. Per-dir metadata is filtered to each entry's
    live dirs, so a replaced dir's stats/blooms drop out exactly as the
    monolithic carry used to drop them."""
    if "manifests" not in root:
        return root
    # COLD fetch in parallel: commit manifests are independent small
    # files, and a freshly-started driver assembling a many-commit table
    # otherwise pays one sequential filesystem round-trip per file
    # (~5 ms each — STRESS_r13's plan_ratio signature; warm assembly is
    # pure dict merging). py4j serves concurrent threads on separate
    # connections; duplicate loads of the same immutable file are
    # harmless.
    missing = [
        e["file"]
        for e in root["manifests"]
        if e.get("file")
        and f"{table}/{_SNAP_DIR}/{e['file']}" not in _CFILE_CACHE
    ]
    if len(missing) > 4:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=8) as pool:
            list(pool.map(lambda f: _load_cfile(spark, table, f), missing))
    out = {k: v for k, v in root.items() if k != "manifests"}
    parts: dict[str, list[str]] = {}
    stats: dict[str, dict] = {}
    blooms: dict[str, dict] = {}
    cschemas: dict[str, list] = {}
    cspecs: dict[str, list] = {}
    for e in root["manifests"]:
        content = _entry_content(spark, table, e)
        eparts = e["live"] if e.get("live") is not None else content["partitions"]
        live_dirs = {d for ds in eparts.values() for d in ds}
        for k, ds in eparts.items():
            parts.setdefault(k, []).extend(ds)
        for d, s in content.get("stats", {}).items():
            if d in live_dirs:
                stats[d] = s
        for d, b in content.get("blooms", {}).items():
            if d in live_dirs:
                blooms[d] = b
        cschemas.update(content.get("cschemas", {}))
        # per-commit partition SPEC (spec evolution): the spec each
        # commit's dirs were written under rides its manifest file —
        # pruning resolves transforms per dir through its own commit's
        # spec, so a respec never mis-prunes pre-evolution dirs
        if content.get("pspec"):
            for ds in eparts.values():
                for d in ds:
                    cspecs[d.split("/")[1]] = content["pspec"]
    out["partitions"] = parts
    if stats:
        out["stats"] = stats
    if blooms:
        out["blooms"] = blooms
    if cschemas:
        out["cschemas"] = cschemas
    if cspecs:
        out["pspecs_by_commit"] = cspecs
    return out


def _parts_for_keys(
    spark: SparkSession, table: str, root: dict, keys: set
) -> dict[str, list[str]]:
    """``{pkey: sorted dirs}`` for exactly ``keys``, opening ONLY the
    entries whose pkey summary intersects them — the read-set capture/
    validation primitive of partition-scoped replacements (O(affected
    entries), never O(table))."""
    out: dict[str, list[str]] = {k: [] for k in keys}
    for e in _root_entries(root):
        if not keys & set(e.get("pkeys", ())):
            continue
        eparts = _entry_parts(spark, table, e)
        for k in keys:
            out[k].extend(eparts.get(k, ()))
    return {k: sorted(v) for k, v in out.items()}


#: (resolved manifest path) -> ASSEMBLED view memo. Keyed by the
#: token-named file path, not (table, version), so a dropped-and-
#: recreated table at the same path can never serve a stale view (new
#: commits always publish token names — the _CFILE_CACHE argument).
#: The view is immutable once the root is resolved (roots and commit
#: manifests never change after their CAS), so a long-lived reader's
#: repeated version resolutions become O(1) dict lookups instead of
#: O(live commits) re-merges (STRESS_r13's cold plan_ratio 5.0 at 10x
#: commits was exactly this re-assembly). CONTRACT: callers treat the
#: returned view as READ-ONLY (all current consumers do — they build
#: fresh dicts for any derived state); snapshot_expire invalidates the
#: table's entries when it reclaims manifests.
_ASSEMBLED_CACHE: dict[str, dict] = {}


def _drop_assembled(table: str) -> None:
    """Invalidate the assembled-view memo for one table (expire path)."""
    prefix = f"{table}/{_SNAP_DIR}/"
    for k in [k for k in _ASSEMBLED_CACHE if k.startswith(prefix)]:
        _ASSEMBLED_CACHE.pop(k, None)


def _load_manifest(
    spark: SparkSession,
    table: str,
    version: int,
    committed: int | None = None,
    branch: str | None = None,
) -> dict:
    """The ASSEMBLED manifest view of a snapshot (see :func:`_assemble`)
    — the read-side API every scan/prune/diff path consumes. Since
    round 13 the stored form is two-level (root manifest-list +
    immutable per-commit manifest files, the Iceberg layout) so a
    COMMIT writes only its own delta; this assembly is driver-side dict
    merging over cached immutable files, memoized per resolved root
    (``_ASSEMBLED_CACHE``) because the merge result is immutable once
    the root version is resolved. Branch reads memoize the same way —
    the key is the resolved root file, which is lineage-unique."""
    if version == 0:
        return _assemble(
            spark, table, _load_root(spark, table, version, committed=committed)
        )
    path = _resolve_manifest_file(spark, table, version, branch=branch)
    view = _ASSEMBLED_CACHE.get(path)
    if view is not None:
        # one existence probe guards the drop-and-recreate-at-same-path
        # hole _load_root's re-resolve retry covers on the slow path: a
        # stale _RESOLVE_CACHE entry must never let a memo hit serve the
        # PREVIOUS table's view. ~1 fs call vs O(commits) re-merging.
        fs, jvm = _fs(spark, table)
        if fs.exists(jvm.org.apache.hadoop.fs.Path(path)):
            return view
        _ASSEMBLED_CACHE.pop(path, None)
        _RESOLVE_CACHE.pop((table, version), None)
        if branch is not None:
            _RESOLVE_CACHE.pop((table, f"b:{branch}:{version}"), None)
        path = _resolve_manifest_file(spark, table, version, branch=branch)
    view = _assemble(
        spark,
        table,
        _load_root(spark, table, version, committed=committed, branch=branch),
    )
    if len(_ASSEMBLED_CACHE) > 256:
        _ASSEMBLED_CACHE.clear()
    _ASSEMBLED_CACHE[path] = view
    return view


def snapshot_history(
    spark: SparkSession, table: str, branch: str | None = None
) -> list[dict]:
    """COMMITTED snapshots, oldest first: version / op / n partition
    groups. Uncommitted (phantom) and expired manifests are excluded.
    With ``branch``: the branch's lineage — shared main history up to
    the fork, then the branch's own commits."""
    if branch is not None:
        bmeta = _branch_meta(spark, table, branch)
        if bmeta is None:
            raise KeyError(f"unknown branch {branch!r} on {table}")
        fork = bmeta["from_version"]
        out = [s for s in snapshot_history(spark, table) if s["version"] <= fork]
        head = current_version(spark, table, branch=branch)
        for v in range(fork + 1, head + 1):
            txt = _read_text(
                spark, _resolve_manifest_file(spark, table, v, branch=branch)
            )
            if txt is None:
                continue
            m = json.loads(txt)
            if "manifests" in m:
                n_groups = len(
                    {k for e in m["manifests"] for k in e.get("pkeys", ())}
                )
            else:
                n_groups = len(m["partitions"])
            out.append(
                {
                    "version": m["version"],
                    "op": m.get("op", "?"),
                    "n_partition_groups": n_groups,
                    "committed_at": m.get("committed_at"),
                }
            )
        return sorted(out, key=lambda s: s["version"])
    fs, jvm = _fs(spark, table)
    snap = jvm.org.apache.hadoop.fs.Path(f"{table}/{_SNAP_DIR}")
    if not fs.exists(snap):
        return []
    # one listing yields both the marker set (version → committed
    # manifest basename: the ONLY files that are commits — a CAS loser's
    # token manifest at the same version is a phantom) and the legacy
    # fixed-name manifests of pre-CAS history, whose per-version markers
    # were deleted at swap time
    committed = 0
    marked: dict[int, str] = {}
    legacy: dict[int, str] = {}
    for st in fs.listStatus(snap):
        name = st.getPath().getName()
        mm = _MARKER_RE.match(name)
        if mm:
            v = int(mm.group(1))
            committed = max(committed, v)
            content = _read_text(spark, st.getPath().toString())
            if content is not None and _MANIFEST_FILE_RE.match(content.strip()):
                marked[v] = content.strip()
            else:
                marked[v] = f"v{v:05d}.json"
            continue
        mf = re.match(r"^v(\d+)\.json$", name)
        if mf:
            legacy[int(mf.group(1))] = name
    for v, name in legacy.items():
        marked.setdefault(v, name)
    out = []
    for v, basename in marked.items():
        if v > committed:
            continue
        txt = _read_text(spark, f"{table}/{_SNAP_DIR}/{basename}")
        if txt is None:
            continue  # expired by the maintenance writer mid-listing
        m = json.loads(txt)
        if "manifests" in m:  # format-2 root: pkeys ride the entries
            n_groups = len(
                {k for e in m["manifests"] for k in e.get("pkeys", ())}
            )
        else:
            n_groups = len(m["partitions"])
        out.append(
            {
                "version": m["version"],
                "op": m.get("op", "?"),
                "n_partition_groups": n_groups,
                # None for pre-upgrade manifests (round < 11)
                "committed_at": m.get("committed_at"),
            }
        )
    return sorted(out, key=lambda s: s["version"])


def _write_commit_data(
    df: DataFrame, table: str, partition_by: list[str] | None
) -> list[str]:
    """Write the commit's files under ``data/<uuid>/``; returns the
    TABLE-RELATIVE partition dirs written (``data/<uuid>/p=3`` style, or
    ``[data/<uuid>]`` for unpartitioned data; empty when a partitioned
    frame produced no partitions). Paths are stored relative so the
    manifest survives table moves and table paths that themselves contain
    ``/data/``."""
    commit = uuid.uuid4().hex
    commit_dir = f"{table}/data/{commit}"
    writer = df.write.mode("errorifexists")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(commit_dir)
    if not partition_by:
        return [f"data/{commit}"]
    fs, jvm = _fs(df.sparkSession, commit_dir)
    rels: list[str] = []

    def walk(path, rel, depth):
        for st in fs.listStatus(jvm.org.apache.hadoop.fs.Path(path)):
            name = st.getPath().getName()
            if st.isDirectory() and "=" in name:
                if depth + 1 == len(partition_by):
                    rels.append(f"{rel}/{name}")
                else:
                    walk(f"{path}/{name}", f"{rel}/{name}", depth + 1)

    walk(commit_dir, f"data/{commit}", 0)
    if not rels:
        # An empty partitioned frame wrote only a _SUCCESS-bearing stub
        # dir that no manifest will ever reference; remove it, or a
        # polling writer (e.g. an incremental consumer whose transform
        # keeps filtering to empty) leaks one orphan dir per no-op that
        # snapshot_expire can't see.
        fs.delete(jvm.org.apache.hadoop.fs.Path(commit_dir), True)
    return rels


def _group_rels(rels: list[str], partition_by: list[str] | None) -> dict[str, list[str]]:
    """Manifest partition key per relative dir: the ``p=x[/q=y]`` tail for
    partitioned commits, ``''`` for unpartitioned ones."""
    if not partition_by:
        return {"": list(rels)}
    out: dict[str, list[str]] = {}
    for r in rels:
        out.setdefault("/".join(r.split("/")[2:]), []).append(r)
    return out


#: Per-dir bloom sizing: 8192 bits (1 KiB -> 2048 hex chars in the
#: manifest) × 6 hashes ≈ 1% false positives at ~850 distinct keys/dir,
#: saturating gracefully (a full bloom prunes nothing but stays correct).
_BLOOM_M = 8192
_BLOOM_K = 6

#: snapshot_merge_into's auto bloom tier collects the source's distinct
#: keys only up to this many (one tiny job); beyond it the merge falls
#: back to range pruning — bounding both the collect and the per-dir
#: python probe cost.
_MERGE_BLOOM_PROBE_CAP = 1024


def _bloom_py_positions(value, m: int, k: int) -> list[int]:
    """Kirsch-Mitzenmacher bit positions for one key — PYTHON twin of the
    JVM expression in :func:`_collect_dir_meta`: 60 bits of
    md5(str(value)), split into (h1, h2|1), positions (h1 + i·h2) mod m.
    md5-over-the-string rather than xxhash64 so the prune side can probe
    WITHOUT a Spark job and the construction stays engine-portable."""
    h = int(hashlib.md5(str(value).encode()).hexdigest()[:15], 16)
    h1, h2 = h % (1 << 30), (h >> 30) | 1
    return [(h1 + i * h2) % m for i in range(k)]


def _collect_dir_meta(
    spark: SparkSession,
    table: str,
    rels: list[str],
    stats_cols: list[str] | None,
    bloom_cols: list[str] | None,
    m: int = _BLOOM_M,
) -> tuple[dict | None, dict | None]:
    """Per-directory manifest metadata for a commit's just-written dirs,
    as ``(stats, blooms)`` from ONE read-back job; each is ``None`` when
    its column list is empty, both when ``rels`` is. ZONE MAPS are the
    min/max per ``stats_cols`` column (the Iceberg/Delta data-skipping
    statistic, at dir granularity to match the manifest's unit of
    reference), normalized by :func:`sink._norm_stat` like the read-side
    overlap test. BLOOM FILTERS over ``bloom_cols`` are their membership
    complement: min/max prunes key-CLUSTERED tables, but a GDPR-style
    delete by user id on a time-partitioned table intersects every dir's
    key range, while a per-dir bloom answers "could this key live here?"
    regardless of clustering. Bits are set by a JVM md5 expression whose
    python twin (:func:`_bloom_py_positions`) probes with no Spark job;
    NULLs set no bits (a point probe ``col = NULL`` matches nothing).

    Both are read BACK from the commit's own files grouped on
    ``_metadata.file_path``'s dirname rather than re-deriving hive dir
    names from partition VALUES — Spark's dir naming (null →
    __HIVE_DEFAULT_PARTITION__, hive escaping) would have to be
    replicated exactly, and a mismatch would silently attach metadata to
    a nonexistent dir. Matching on the physical path cannot drift."""
    if not rels or not (stats_cols or bloom_cols):
        return None, None
    stats_cols, bloom_cols = stats_cols or [], bloom_cols or []
    if bloom_cols and (m < 64 or m % 8):
        raise ValueError(f"bloom_bits must be a multiple of 8 >= 64, got {m}")
    commit_id = rels[0].split("/")[1]
    base = f"{table}/data/{commit_id}"
    # ``rels`` is always the COMPLETE dir set of one just-written commit
    # (every caller passes _write_commit_data's return), so scanning the
    # commit dir itself is the identical file set — one driver-side
    # recursive listing instead of len(rels) sequential per-dir listings
    # (30-dir date-partitioned commits measured ~0.2-0.3 s of pure
    # listing per read-back; guide §6 small-file/listing cost).
    df = spark.read.option("basePath", base).parquet(base)
    # WHITELIST, not blacklist: bits are set from the JVM
    # CAST(col AS STRING) but probed with python str(value), and the two
    # only provably agree for integral/string/date keys. Everything else
    # is rejected — a divergence (python str(True)='True' vs JVM 'true';
    # a timestamp's '.500000' vs the JVM's '.5'; binary reprs) makes the
    # probe hash a DIFFERENT string than the bits were set from and
    # wrongly proves present keys absent: the one bloom failure mode
    # that breaks correctness instead of costing I/O.
    _BLOOM_OK = ("tinyint", "smallint", "int", "bigint", "string", "date")
    for c in bloom_cols:
        t = df.schema[c].dataType.simpleString()
        if t not in _BLOOM_OK:
            raise ValueError(
                f"bloom_cols column {c!r} is {t}: only "
                f"{'/'.join(_BLOOM_OK)} keys have identical python/JVM "
                "string forms (the probe must hash exactly what the "
                "writer hashed) — cast the key to one of those first"
            )
    df = df.withColumn(
        "_dir", F.expr("regexp_replace(_metadata.file_path, '/[^/]+$', '')")
    )
    aggs = []
    for c in stats_cols:
        aggs += [F.min(c).alias(f"_lo_{c}"), F.max(c).alias(f"_hi_{c}")]
    if bloom_cols:
        # each row contributes k positions per bloom column as (column
        # index, position) structs, exploded once and gathered by ONE
        # collect_set per dir: at most m positions per (dir, column),
        # never raw keys. A NULL key's pos is NULL (md5(NULL) is NULL);
        # min/max are unchanged by the duplicated rows.
        pairs = []
        for ci, c in enumerate(bloom_cols):
            h = F.conv(
                F.substring(F.md5(F.col(c).cast("string")), 1, 15), 16, 10
            ).cast("long")
            h1 = F.pmod(h, F.lit(1 << 30))
            h2 = F.shiftright(h, 30).bitwiseOR(F.lit(1))
            pairs += [
                F.struct(
                    F.lit(ci).alias("ci"),
                    F.pmod(h1 + F.lit(i) * h2, F.lit(m)).alias("pos"),
                )
                for i in range(_BLOOM_K)
            ]
        df = df.withColumn("_cp", F.explode(F.array(*pairs)))
        aggs.append(F.collect_set("_cp").alias("_ps"))
    rows = df.groupBy("_dir").agg(*aggs).collect()
    stats = {} if stats_cols else None
    blooms = {} if bloom_cols else None
    rel_set = set(rels)
    for r in rows:
        # The file URI re-escapes Spark's hive-escaped dir names ('a b'
        # reads back as 'a%20b', on-disk 'x%3Ay' as 'x%253Ay'): decode it
        # once to the on-disk names _write_commit_data listed, then cut
        # the table-relative dir at the commit's own data/<uuid> segment
        # (a dir outside it stays absolute and fails the check below).
        d = unquote(r["_dir"])
        rel = d[d.find(f"/data/{commit_id}") + 1 :]
        if rel not in rel_set:
            # The commit-dir scan above is only the same file set as
            # ``rels`` when rels is the COMPLETE dir set of the commit
            # (every current caller passes _write_commit_data's full
            # return). A future caller passing a SUBSET would silently
            # compute metadata from files outside its rels — fail loudly
            # instead, making the complete-commit invariant part of the
            # contract.
            raise AssertionError(
                f"_collect_dir_meta scanned dir {r['_dir']!r} not in the "
                f"caller's rels for commit {commit_id}: rels must be the "
                "complete dir set of one just-written commit"
            )
        zone = {}
        for c in stats_cols:
            lo, hi = _norm_stat(r[f"_lo_{c}"]), _norm_stat(r[f"_hi_{c}"])
            if lo is not None and hi is not None:
                zone[c] = [lo, hi]
        if zone:
            stats[rel] = zone
        acc: dict[int, bytearray] = {}
        for ci, p in r["_ps"] if bloom_cols else ():
            if p is not None:  # NULL keys set no bits
                bits = acc.setdefault(ci, bytearray(m // 8))
                bits[p // 8] |= 1 << (p % 8)
        if acc:
            blooms[rel] = {
                bloom_cols[ci]: {"m": m, "k": _BLOOM_K, "bits": bits.hex()}
                for ci, bits in sorted(acc.items())
            }
    return stats, blooms


def _bloom_probe_canonical(col: str, value) -> str:
    """The canonical string form the WRITER hashed (JVM
    ``CAST(col AS STRING)`` over the ``_BLOOM_OK`` whitelist) for a
    python probe value — the probe-side mirror of the writer's type
    gate. A probe whose python string differs from the JVM cast string
    (float ``42.0`` vs int ``42``, bool ``True`` vs ``'true'``, a
    datetime vs a date) would silently prove PRESENT keys absent —
    reads would drop matching rows and keyed deletes would keep rows
    they should delete — so those types are rejected, not guessed."""
    import datetime as _dt

    if isinstance(value, bool) or not isinstance(
        value, (int, str, _dt.date)
    ):
        raise TypeError(
            f"bloom probe value {value!r} for column {col!r} has type "
            f"{type(value).__name__}: only int, str and datetime.date "
            "probes have the same string form python-side and JVM-side "
            "(the writer whitelists tinyint/smallint/int/bigint/string/"
            "date keys) — cast the probe to the stored key type"
        )
    if isinstance(value, _dt.datetime):
        # datetime.date accepts datetime instances (subclass) but
        # str(datetime) carries a time part the JVM date cast never had
        raise TypeError(
            f"bloom probe value {value!r} for column {col!r} is a "
            "datetime: bloom keys are date-typed (the writer whitelist "
            "excludes timestamps) — probe with the .date()"
        )
    return value.isoformat() if isinstance(value, _dt.date) else str(value)


def _bloom_prune(
    manifest: dict, dirs: list[str], skip_keys: list[tuple]
) -> list[str]:
    """Dirs from ``dirs`` that MAY hold a row matching
    ``col IN (values)`` for every ``(col, values)`` probe — conservative
    like the zone maps: a dir without a bloom for a column is always
    kept; a dir is skipped only when EVERY probe value has at least one
    unset bit (provably absent, no false negatives by construction).
    Probe values are validated/canonicalized LAZILY, on the first dir
    that actually carries a bloom for the (physically resolved) probe
    column (:func:`_bloom_probe_canonical`): a mistyped probe there
    raises instead of silently pruning dirs that DO hold the key, while
    a probe against a column NO dir has a bloom for stays the harmless
    no-op it always was (bloom absent => dir kept) — probing a
    float/timestamp column the writer never whitelisted must not break
    a read that was already conservative."""
    blooms = manifest.get("blooms", {})

    decoded: dict[int, bytes] = {}  # per-bloom bitmap, decoded once
    canon: dict[int, list[str]] = {}  # probe index -> canonical strings

    def canon_values(i: int) -> list[str]:
        vs = canon.get(i)
        if vs is None:
            col, values = skip_keys[i]
            vs = canon[i] = [
                _bloom_probe_canonical(col, v) for v in values
            ]
        return vs

    def value_may(bl: dict, value) -> bool:
        bits = decoded.get(id(bl))
        if bits is None:
            bits = decoded[id(bl)] = bytes.fromhex(bl["bits"])
        return all(
            bits[p // 8] & (1 << (p % 8))
            for p in _bloom_py_positions(value, bl["m"], bl["k"])
        )

    def may_match(d: str) -> bool:
        dbl = blooms.get(d)
        if not dbl:
            return True
        commit = d.split("/")[1]
        for i, (col, _values) in enumerate(skip_keys):
            bl = dbl.get(_phys_col(manifest, commit, col))
            if bl is None:
                continue
            if not any(value_may(bl, v) for v in canon_values(i)):
                return False
        return True

    return [d for d in dirs if may_match(d)]


#: safe type-promotion chains (the Iceberg v2 set): widening within a
#: chain is a VALUE-INDEPENDENT union upcast (every int fits a bigint,
#: every float widens to the same double), unlike the string<->numeric
#: mixes the gates reject
_PROMOTION_CHAINS = (
    ["tinyint", "smallint", "int", "bigint"],
    ["float", "double"],
)


def _promoted(a: str, b: str) -> str | None:
    """The wider of two simpleString types when both sit on one
    promotion chain; ``None`` when the pair is not safely promotable."""
    if a == b:
        return a
    for chain in _PROMOTION_CHAINS:
        if a in chain and b in chain:
            return chain[max(chain.index(a), chain.index(b))]
    return None


def _merge_schema_union(
    prior: dict[str, str], mine: dict[str, str]
) -> tuple[dict[str, str], tuple[str, str, str] | None]:
    """THE schema-union merge rule, shared by the write-time gate and
    the CAS-rebase revalidation so the two can never diverge: additive
    columns merge in, same-name columns must match or sit on a
    promotion chain (the union keeps the WIDEST type seen). Returns
    ``(merged, None)`` or ``(partial, (col, prior_t, new_t))`` naming
    the first conflicting column for the caller's error shape."""
    out = dict(mine)
    for c, t in out.items():
        if c in prior and prior[c] != t:
            p = _promoted(prior[c], t)
            if p is None:
                return {}, (c, prior[c], t)
            out[c] = p
    return {**prior, **out}, None


def _merged_commit_schema(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    partition_by: list[str] | None,
    committed: int | None = None,
    branch: str | None = None,
) -> dict[str, str]:
    """Validate additive evolution at WRITE time; return the new commit's
    manifest data-column schema (prior union ∪ this frame's columns,
    name -> ``simpleString`` — nullability-insensitive by construction).

    A same-name data column whose type differs from the recorded union
    fails HERE, before any data is written: left to read time, the
    type-changed commit would land fine and poison every later read —
    and an incremental consumer reading only the added dirs would see
    one self-consistent schema and silently propagate the bad column
    into its sink one hop downstream. Pre-upgrade manifests without a
    recorded schema skip the check (the read-time gate still applies)
    and start recording from this commit."""
    if committed is None:
        committed = current_version(spark, table, branch=branch)
    prior: dict[str, str] = {}
    if committed:
        prior = dict(
            _load_manifest(
                spark, table, committed, committed=committed, branch=branch
            ).get("dschema", {})
        )
    pset = set(partition_by or [])
    mine = {
        f.name: f.dataType.simpleString()
        for f in df.schema.fields
        if f.name not in pset
    }
    # safe WIDENING within a promotion chain is allowed (the Iceberg
    # int->long / float->double rule): the union upcast is value-
    # independent either way, and the recorded union keeps the WIDEST
    # type ever seen; anything else fails fast (_merge_schema_union is
    # the single shared rule — the CAS-rebase gate uses it too)
    merged, conflict = _merge_schema_union(prior, mine)
    if conflict is not None:
        c, pt, t = conflict
        raise ValueError(
            f"column {c!r} of {table} would change type "
            f"({pt} -> {t}); snapshot evolution is "
            "additive-only (plus safe int/float widening) — "
            "cast the frame to the table's type, or write to a "
            "new table"
        )
    return merged


def _frame_cschema(df: DataFrame, partition_by: list[str] | None) -> list:
    """This commit's OWN ordered data-column schema, as recorded in the
    manifest's ``cschemas``: the read path groups commits with identical
    entries into one multi-path scan (see :func:`_read_dirs`)."""
    pset = set(partition_by or [])
    return [
        [f.name, f.dataType.simpleString()]
        for f in df.schema.fields
        if f.name not in pset
    ]


def _commit(
    spark: SparkSession,
    table: str,
    op: str,
    new_partitions: dict[str, list[str]],
    replaced: set[str] | None = None,
    meta: dict | None = None,
    stats: dict[str, dict[str, list]] | None = None,
    dschema: dict[str, str] | None = None,
    cschema: list | None = None,
    restore: dict | None = None,
    blooms: dict[str, dict[str, dict]] | None = None,
    colmaps: dict[str, dict[str, str]] | None = None,
    dropcols: dict[str, list[str]] | None = None,
    rename_entry: tuple[str, str] | None = None,
    drop_entry: str | None = None,
    partition_scoped: bool = False,
    read_version: int | None = None,
    delete_add: dict | None = None,
    pcol_entry: tuple[str, str] | None = None,
    pspec: list | None = None,
    branch: str | None = None,
) -> int:
    """Write the next manifest, then publish it via the marker swap.

    ``meta`` rides INSIDE the manifest, so it publishes atomically with
    the data (the maintenance streams store their batch-id high-water
    mark here). ``None`` inherits the previous snapshot's meta — a
    maintenance commit (rewrite/expire/purge) between stream batches
    must not erase the stream's high-water mark. ``dschema`` is the
    recorded data-column schema union (see
    :func:`_merged_commit_schema`); ``None`` inherits the previous
    snapshot's, so maintenance commits never erase it. ``cschema`` is
    THIS commit's own ordered data-column schema (``[[name, type],…]``),
    recorded per commit uuid under ``cschemas`` so the read path can
    group same-schema commits into one multi-path scan without touching
    footers; entries for dropped commits fall out with their dirs.
    ``restore`` is an OLD manifest whose per-dir stats and per-commit
    schemas re-merge for any of its dirs this commit brings back
    (rollback): stats/cschemas normally carry forward from the LATEST
    manifest only, so a dir that was replaced and later restored would
    silently lose its zone maps (skip_where stops pruning it) and its
    commit's scan-grouping schema — committed dirs are immutable, so the
    old manifest's entries are exact for the restored dirs.

    Optimistic concurrency: the manifest lands at a unique token path,
    then the version marker's atomic fresh-path create is the CAS. On
    loss, APPEND-class commits (``replaced`` empty, no ``restore``)
    rebase onto the winner's manifest and retry — the data dirs are
    already on disk and fresh-by-construction, so only this manifest
    merge re-runs: the schema union is revalidated against the winner's
    (``cschema`` is this commit's own columns), and a non-None ``meta``
    KEY-MERGES over the winner's so neither writer's high-water mark is
    lost. REPLACEMENT-class commits fail-stop with
    :class:`SnapshotConflictError` — their read-set was the old base.

    ``read_version`` is the snapshot version the CALLING VERB derived
    its commit from (validation-from-base-snapshot, the Iceberg rule):
    conflict detection starts at the caller's READ, not at _commit
    entry. A winner landing in the gap between the caller's manifest
    load (survivor/prune computation, source probes) and this call
    causes no marker contention at all — yet the commit's read-set is
    exactly as stale as a CAS loss, so a moved base on the FIRST
    attempt is classified like a lost CAS: fail-stop for
    replacement-class, rebase (with full revalidation) for
    append-class and partition-scoped commits.

    Commits carrying explicit ``colmaps``/``dropcols`` (the rename/drop
    metadata commits) are REPLACEMENT-class even with no data dirs:
    their column maps were derived from the read version's live-commit
    set, and rebasing them over a winner's new data commit would
    publish maps that do not cover the winner's files (the table would
    silently split into two logical columns)."""
    rebaseable = (
        not replaced
        and restore is None
        and colmaps is None
        and dropcols is None
        # a merge-on-read delete changes the EFFECTIVE content of live
        # dirs it never rewrites: replacement-class by definition
        and delete_add is None
        # partition-column renames validate name collisions against
        # their read version — fail-stop like the data-column renames
        and pcol_entry is None
        # a metadata-only RESPEC racing another writer fail-stops (two
        # racing respecs must not silently last-win); spec-bearing DATA
        # commits (first write) still rebase
        and not (pspec is not None and not new_partitions)
    )
    mine_cols = dict(cschema) if cschema else None
    attempt = 0
    # PARTITION-SCOPED replacements (overwrite_partitions) capture
    # their read-set at the caller's read version: the exact dir lists
    # of the partitions they replace. On a CAS loss (or a moved base)
    # they may rebase IFF the winner left every one of those partitions
    # untouched (dir lists identical) — the replacement then still
    # replaces exactly what it read, and untouched partitions pick up
    # the winner's commits through the normal carry. Any change to a
    # replaced partition fails-stop. Full-table semantics (overwrite_all,
    # rollback, delete, merge) never rebase: their read-set includes
    # negative proofs over every live dir.
    read_set: dict[str, list[str]] | None = None
    # the EVOLUTION state is part of EVERY data-bearing commit's
    # read-set: a metadata-only winner (rename/drop) changes NO dir
    # list, but rebasing a commit whose files carry pre-evolution
    # physical names over it would publish files the winner's column
    # maps do not cover — the table would silently split into two
    # logical columns (old rows under the new name, rebased rows under
    # the resurrected old one)
    evo_sig: tuple[int, int] | None = None
    cfile_name: str | None = None
    while True:
        base = current_version(spark, table, branch=branch)
        root = _load_root(spark, table, base, committed=base, branch=branch)
        rebasing = attempt > 0 or (
            read_version is not None and base != read_version
        )
        if rebasing and not rebaseable and not partition_scoped:
            raise SnapshotConflictError(
                f"concurrent commit on {table}: another writer committed "
                f"after v{read_version if read_version is not None else base} "
                f"and this {op!r} commit replaces live data read from the "
                "OLD base — retrying blindly could undo the winner. Re-run "
                "the operation against the new snapshot (its data dirs are "
                "unreferenced orphans; snapshot_expire reclaims them)."
            )
        if evo_sig is None:
            src = root
            if read_version is not None and read_version != base:
                src = _load_root(
                    spark, table, read_version, committed=base, branch=branch
                )
            if partition_scoped and replaced:
                read_set = _parts_for_keys(spark, table, src, set(replaced))
            evo_sig = (
                len(src.get("renames_log", ())),
                len(src.get("drops_log", ())),
            )
        if rebasing:
            # validate against the manifest we are about to REBASE ONTO
            # (not merely the first winner): any commit in the window —
            # including one landing between our CAS loss and this
            # retry — that evolved the schema or touched a replaced
            # partition stales our read-set and must fail-stop, or its
            # change would be silently undone/orphaned by our commit.
            # Pure META commits (consume marks: no dirs, no cschema)
            # carry no physical names and rebase across evolution safely.
            cur_evo = (
                len(root.get("renames_log", ())),
                len(root.get("drops_log", ())),
            )
            if cur_evo != evo_sig and (new_partitions or cschema is not None):
                raise SnapshotConflictError(
                    f"concurrent commit on {table}: a winning commit "
                    "renamed or dropped a column — this writer's files "
                    "carry pre-evolution physical names the winner's "
                    "column maps do not cover; re-run the operation "
                    "against the new snapshot"
                )
            if read_set is not None:
                cur_parts = _parts_for_keys(
                    spark, table, root, set(read_set)
                )
                for k, dirs in read_set.items():
                    if cur_parts.get(k, []) != dirs:
                        raise SnapshotConflictError(
                            f"concurrent commit on {table}: a winning commit "
                            f"touched partition {k!r}, which this {op!r} "
                            "commit replaces — its read-set is stale; re-run "
                            "the operation against the new snapshot (orphaned "
                            "data dirs are reclaimed by snapshot_expire)"
                        )
        eff_dschema = dschema
        eff_meta = meta
        if rebasing:
            # rebase: the winner's manifest is the new base — re-derive
            # the schema union from OUR OWN columns (the dschema the
            # caller computed merged against the old base), failing fast
            # on a type conflict the winner introduced, and key-merge
            # meta so a racing stream's HWM and ours both survive
            if dschema is not None:
                if mine_cols is None:
                    raise SnapshotConflictError(
                        f"concurrent commit on {table}: cannot rebase a "
                        "schema-bearing commit without its own column "
                        "list; retry the operation"
                    )
                merged, conflict = _merge_schema_union(
                    dict(root.get("dschema", {})), mine_cols
                )
                if conflict is not None:
                    c, pt, t = conflict
                    raise SnapshotConflictError(
                        f"concurrent commit on {table}: rebasing "
                        f"would change column {c!r} type "
                        f"({pt} -> {t}); snapshot evolution "
                        "is additive-only (plus safe widening)"
                    )
                eff_dschema = merged
            if meta is not None:
                eff_meta = {**(root.get("meta") or {}), **meta}
        # ------- two-level carry (round 13, VERDICT r12 Next #1) -------
        # Prior entries carry BY REFERENCE: an entry whose pkey summary
        # misses `replaced` is copied verbatim into the new root (its
        # commit-manifest file is never opened, let alone rewritten).
        # Entries intersecting `replaced` are opened (cached, immutable)
        # to (a) filter their live map and (b) donate per-dir metadata
        # for the dirs this commit carries forward inside
        # new_partitions. Commit cost is therefore ∝ this commit's own
        # dirs + the dirs of the partitions it replaces — never ∝ table.
        replaced_set = set(replaced) if replaced else set()
        base_basename = None  # legacy monolith's own file, ref'd lazily
        surviving: list[dict] = []
        c_stats: dict[str, dict] = {}
        c_blooms: dict[str, dict] = {}
        c_cschemas: dict[str, list] = {}
        prior_uuids: set[str] = set()
        for e in _root_entries(root):
            if e.get("file") is None and base_basename is None:
                # the legacy monolith stays on disk for time travel —
                # reference it as this entry's manifest file instead of
                # copying its content forward
                base_basename = _resolve_manifest_file(
                    spark, table, base, branch=branch
                ).rsplit("/", 1)[1]
            fref = e["file"] if e.get("file") else base_basename
            epk = set(e.get("pkeys", ()))
            if not (replaced_set & epk):
                if e.get("file") is None:
                    e = {"file": fref, "pkeys": sorted(epk), "live": None}
                surviving.append(e)
                continue
            content = _entry_content(spark, table, e)
            eparts = (
                e["live"] if e.get("live") is not None else content["partitions"]
            )
            for ds in eparts.values():
                for d in ds:
                    prior_uuids.add(d.split("/")[1])
            c_stats.update(content.get("stats", {}))
            c_blooms.update(content.get("blooms", {}))
            c_cschemas.update(content.get("cschemas", {}))
            filtered = {
                k: list(v) for k, v in eparts.items() if k not in replaced_set
            }
            if filtered:
                surviving.append(
                    {"file": fref, "pkeys": sorted(filtered), "live": filtered}
                )
        has_new = any(new_partitions.values())
        if replaced and not surviving and not has_new:
            # replacement backstop (reachable e.g. when two racing
            # pure-drop overwrites each drop the other's last surviving
            # partition and one rebases): an empty DATA manifest poisons
            # every later read — the callers' own guards check their
            # ORIGINAL base, this one checks the REBASED state.
            # (Meta-only consume-mark commits on a fresh sink legally
            # carry empty partitions and pass replaced=None.)
            raise SnapshotConflictError(
                f"commit on {table} would publish an EMPTY snapshot "
                "after rebasing onto concurrent commits — refusing (the "
                "empty-snapshot rule); re-run against the new snapshot"
            )
        version = base + 1
        # this commit's OWN manifest file: exactly its new_partitions
        # dirs — fresh dirs take the caller's stats/blooms/cschema,
        # carried dirs (delete/merge untouched survivors, rollback's
        # restored set) keep the metadata their source recorded (args
        # first, then the affected entries', then the restore target's;
        # identical for the same immutable dir wherever both exist).
        # Written ONCE: a CAS rebase revalidates that the replaced
        # partitions are untouched, so the content cannot change across
        # retries and the file is reused; a fail-stop orphans it for
        # snapshot_expire.
        if has_new and cfile_name is None:
            r_stats = (restore or {}).get("stats", {})
            r_blooms = (restore or {}).get("blooms", {})
            r_cschemas = (restore or {}).get("cschemas", {})
            r_uuids = {
                d.split("/")[1]
                for ds in (restore or {}).get("partitions", {}).values()
                for d in ds
            }
            nf_stats: dict[str, dict] = {}
            nf_blooms: dict[str, dict] = {}
            nf_cs: dict[str, list] = {}
            for ds in new_partitions.values():
                for d in ds:
                    u = d.split("/")[1]
                    s = (stats or {}).get(d) or c_stats.get(d) or r_stats.get(d)
                    if s:
                        nf_stats[d] = s
                    b = (
                        (blooms or {}).get(d)
                        or c_blooms.get(d)
                        or r_blooms.get(d)
                    )
                    if b:
                        nf_blooms[d] = b
                    if u in c_cschemas:
                        nf_cs[u] = c_cschemas[u]
                    elif u in r_cschemas:
                        nf_cs[u] = r_cschemas[u]
                    elif (
                        cschema is not None
                        and u not in prior_uuids
                        and u not in r_uuids
                    ):
                        # stamp ONLY commits this write created: carried
                        # pre-upgrade commits without a recorded schema
                        # must NOT inherit this write's (a narrow old
                        # commit grouped into a union-schema multi-path
                        # scan silently drops the evolved column)
                        nf_cs[u] = cschema
            cfile = {
                "partitions": {
                    k: list(v) for k, v in new_partitions.items() if v
                }
            }
            # record the partition SPEC this commit's dirs were written
            # under (spec evolution: pruning resolves transforms per
            # commit; a later respec never misattributes these dirs).
            # Rollback copies the target's per-commit spec when it is
            # unambiguous; a mixed restore stays spec-less
            # (conservative: its dirs simply stop transform-pruning).
            if pspec:
                eff_spec = pspec
            elif restore is not None:
                rs = restore.get("pspecs_by_commit") or {}
                cand_specs = {
                    json.dumps(rs[u])
                    for ds in new_partitions.values()
                    for d in ds
                    for u in (d.split("/")[1],)
                    if u in rs
                }
                eff_spec = (
                    json.loads(next(iter(cand_specs)))
                    if len(cand_specs) == 1
                    else None
                )
            else:
                eff_spec = root.get("pspec")
            if eff_spec:
                cfile["pspec"] = eff_spec
            if nf_stats:
                cfile["stats"] = nf_stats
            if nf_blooms:
                cfile["blooms"] = nf_blooms
            if nf_cs:
                cfile["cschemas"] = nf_cs
            cfile_name = f"c-{uuid.uuid4().hex[:12]}.json"
            _create_atomic(
                spark, f"{table}/{_SNAP_DIR}/{cfile_name}", json.dumps(cfile)
            )
        entries_out = list(surviving)
        if has_new:
            entries_out.append(
                {
                    "file": cfile_name,
                    "pkeys": sorted(k for k, v in new_partitions.items() if v),
                    "live": None,
                }
            )
        new_root = {
            "version": version,
            "op": op,
            # wall-clock commit instant (epoch seconds): powers AS-OF-
            # timestamp time travel and retention reasoning;
            # informational only — correctness never depends on clock
            # monotonicity, and snapshot_read(as_of=...) fail-stops on
            # out-of-order instants
            "committed_at": _now(),
            "format": 2,
            "manifests": entries_out,
        }
        carried = root.get("meta") if eff_meta is None else eff_meta
        if carried:
            new_root["meta"] = carried
        sch = root.get("dschema") if eff_dschema is None else eff_dschema
        if sch:
            new_root["dschema"] = sch
        # per-commit column maps / drops (rename & drop evolution) stay
        # ROOT-level: rename/drop commits replace them wholesale (built
        # from the live-commit set), plain commits carry them verbatim —
        # entries for uuids that later fall dead are inert (lookups key
        # on live uuids only) and the next rename/drop/rewrite rebuild
        # prunes them; filtering them per commit would cost the O(table)
        # liveness scan this layout exists to avoid
        kept_cm = dict(colmaps) if colmaps is not None else dict(
            root.get("colmaps", {})
        )
        kept_dc = dict(dropcols) if dropcols is not None else dict(
            root.get("dropcols", {})
        )
        # the rename/drop LOGS (version, names) power cross-version
        # alignment in the row-level change feed; they carry forward on
        # every commit and this commit's own entry stamps the REAL
        # version (which a CAS rebase may have bumped)
        rlog = list(root.get("renames_log", []))
        dlog = list(root.get("drops_log", []))
        plog = list(root.get("pcol_log", []))
        if rename_entry is not None:
            rlog.append([version, rename_entry[0], rename_entry[1]])
        if drop_entry is not None:
            dlog.append([version, drop_entry])
        if pcol_entry is not None:
            plog.append([version, pcol_entry[0], pcol_entry[1]])
        if restore:
            # rollback REVERTS names: restored commits take the TARGET
            # manifest's maps/drops exactly (the carried entries reflect
            # renames/drops committed AFTER the target), and renames the
            # rollback undoes are logged in REVERSE so the change feed
            # can align a diff that crosses the rollback
            restore_commits = {
                d.split("/")[1]
                for dirs in new_partitions.values()
                for d in dirs
            }
            rcm = restore.get("colmaps", {})
            rdc = restore.get("dropcols", {})
            for c in restore_commits:
                if c in rcm:
                    kept_cm[c] = rcm[c]
                else:
                    kept_cm.pop(c, None)
                if c in rdc:
                    kept_dc[c] = rdc[c]
                else:
                    kept_dc.pop(c, None)
            target_v = restore.get("version", 0)
            undone = [e for e in rlog if e[0] > target_v]
            for v_, a_, b_ in reversed(undone):
                rlog.append([version, b_, a_])
            p_undone = [e for e in plog if e[0] > target_v]
            for v_, a_, b_ in reversed(p_undone):
                plog.append([version, b_, a_])
        if kept_cm:
            new_root["colmaps"] = kept_cm
        if kept_dc:
            new_root["dropcols"] = kept_dc
        if rlog:
            new_root["renames_log"] = rlog
        if dlog:
            new_root["drops_log"] = dlog
        if plog:
            new_root["pcol_log"] = plog
        # hidden-partitioning spec: table-level, carried forward; a
        # spec-bearing write replaces it (the verbs validate equality
        # against the recorded one first); rollback reverts to the
        # target's (restore) — the spec travels with the content
        if restore is not None:
            kept_ps = restore.get("pspec")
        else:
            kept_ps = pspec if pspec is not None else root.get("pspec")
        if kept_ps:
            new_root["pspec"] = kept_ps
        # MERGE-ON-READ key-delete entries (round 13) ride the root:
        # {file, cols, dirs} — ``dirs`` pins the delete to the dirs LIVE
        # AT DELETE TIME (later commits are never affected; re-inserted
        # keys survive). Carry: a replacement drops the entry's dirs in
        # replaced partitions unless the very same dir was carried
        # forward (delete_where/merge untouched survivors); an entry
        # with no dirs left falls out (compaction folds MoR deletes by
        # construction). Rollback reverts to the TARGET's entries.
        if restore is not None:
            kept_deletes = [dict(de) for de in restore.get("deletes", [])]
        else:
            kept_deletes = []
            prior_deletes = root.get("deletes", [])
            if prior_deletes:
                live_in_new = {
                    d for ds in new_partitions.values() for d in ds
                }
                for de in prior_deletes:
                    if not replaced_set:
                        kept_deletes.append(de)
                        continue
                    kept = [
                        d
                        for d in de["dirs"]
                        if "/".join(d.split("/")[2:]) not in replaced_set
                        or d in live_in_new
                    ]
                    if kept:
                        kept_deletes.append({**de, "dirs": kept})
        if delete_add is not None:
            kept_deletes.append(delete_add)
        if kept_deletes:
            new_root["deletes"] = kept_deletes
        # the root lands at a UNIQUE token path (no writer can contend
        # for it), then the marker create is the CAS
        token = uuid.uuid4().hex[:12]
        mpath = _manifest_path(table, version, token)
        _create_atomic(spark, mpath, json.dumps(new_root))
        if _publish_cas(
            spark, table, version, f"v{version:05d}-{token}.json", branch=branch
        ):
            return version
        # lost the CAS: our token root is a phantom — drop it
        # best-effort (expire vacuums stragglers), then rebase or stop.
        # The commit-manifest file is KEPT: a rebase reuses it verbatim
        # (immutable content), a fail-stop orphans it for expire.
        fs, jvm = _fs(spark, table)
        fs.delete(jvm.org.apache.hadoop.fs.Path(mpath), False)
        attempt += 1
        # replacement-class fail-stop happens at the TOP of the next
        # iteration (the same path a moved-base first attempt takes)
        if attempt > _COMMIT_MAX_RETRIES:
            raise SnapshotConflictError(
                f"concurrent commit on {table}: lost the version CAS "
                f"{attempt} times in a row (sustained contention); "
                "re-run the append"
            )


def snapshot_append(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    partition_by: list[str] | None = None,
    meta: dict | None = None,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = _BLOOM_M,
    branch: str | None = None,
) -> int:
    """Append a commit; returns the new snapshot version. A partitioned
    frame that writes no partitions (empty input) is a NO-OP returning
    the current version — committing an empty v1 would poison every
    later ``snapshot_read`` of the chain. ``meta`` publishes atomically
    with the data inside the manifest (``None`` inherits the previous
    snapshot's — see :func:`_commit`). ``stats_cols`` records per-dir
    zone maps (min/max) for those columns in the manifest, enabling
    ``snapshot_read(skip_where=...)`` file skipping BEYOND partition
    pruning (one commit-sized read-back pass at write time);
    ``bloom_cols`` records per-dir BLOOM filters for point-lookup keys,
    enabling ``snapshot_read(skip_keys=...)`` /
    ``snapshot_delete_where(prune_keys=...)`` membership pruning even
    where the table is NOT clustered on the key (the GDPR-delete shape —
    see :func:`_collect_dir_meta`, which gathers both in one pass). Additive
    schema evolution is validated BEFORE the data write
    (:func:`_merged_commit_schema`): new columns are fine, a type
    change fails fast with nothing landed.

    HIDDEN PARTITIONING (round 13, the Iceberg transform family):
    ``partition_by`` entries may be transforms — ``days(ts)``,
    ``months(d)``, ``hours(ts)``, ``truncate(4, col)``,
    ``bucket(16, col)`` — and the writer materializes the derived
    column under a reserved physical name, records the spec in the
    manifest (fixed at first write), and readers NEVER see it:
    ``snapshot_read`` hides it and prunes dirs from probes on the
    SOURCE column (``skip_where`` ranges through the monotone
    transforms, ``skip_keys`` points through any, including bucket).

    ``branch`` targets a named branch (:func:`snapshot_branch`): the
    commit advances ONLY that branch's ref — main never sees it until
    :func:`snapshot_fast_forward` publishes the branch (the Iceberg
    write-audit-publish branch workflow). Validation (schema union,
    partition spec, evolution state) runs against the BRANCH head."""
    read_v = current_version(spark, table, branch=branch)
    root0 = _load_root(spark, table, read_v, committed=read_v, branch=branch)
    df, partition_by, pspec = _resolve_partitioning(df, root0, partition_by)
    if partition_by and read_v:
        df, partition_by = _to_physical(df, root0, partition_by)
    dschema = _merged_commit_schema(
        spark, table, df, partition_by, committed=read_v, branch=branch
    )
    rels = _write_commit_data(df, table, partition_by)
    if not rels:
        return read_v
    stats, blooms = _collect_dir_meta(
        spark, table, rels, stats_cols, bloom_cols, bloom_bits
    )
    return _commit(
        spark, table, "append", _group_rels(rels, partition_by), meta=meta,
        stats=stats, dschema=dschema,
        cschema=_frame_cschema(df, partition_by),
        blooms=blooms,
        read_version=read_v,
        pspec=pspec,
        branch=branch,
    )


def snapshot_overwrite_partitions(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    partition_by: list[str],
    meta: dict | None = None,
    stats_cols: list[str] | None = None,
    drop_partitions: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = _BLOOM_M,
) -> int:
    """Replace exactly the partitions present in ``df`` (dynamic-overwrite
    semantics) — but via fresh files + manifest/marker publish, so a
    concurrent reader of the PREVIOUS snapshot keeps its files and a
    crash before the marker changes nothing. Empty input is a no-op.
    ``stats_cols`` as in :func:`snapshot_append`, and the same write-time
    additive-evolution gate applies.

    Concurrency: this is the one REPLACEMENT verb that rebases under
    the optimistic-commit protocol (see :func:`_commit`) — it is a
    BLIND replace-by-key (``df``'s content is the caller's, not derived
    here from other partitions), so its read-set IS the replaced
    partitions' dir lists plus the schema-evolution state, both
    validated on every rebase attempt. Callers whose ``df`` derives
    from reading the table (the IVM refresher reading its own view
    buckets) must serialize their own read→write window per partition —
    the IVM stream's per-view exactly-once marks do exactly that; the
    rebase then only needs to survive winners on OTHER partitions,
    which the dir-list validation guarantees.

    ``drop_partitions`` names manifest partition keys (``"p=x"`` /
    ``"p=x/q=y"`` tails) to replace EVEN IF ``df`` holds no rows for
    them — the dynamic-overwrite blind spot a retraction-capable writer
    hits: a partition whose merged content became EMPTY (every group
    fully retracted) must be dropped in the same atomic commit, not
    kept because absence-from-``df`` reads as keep. Keys listed here
    and also present in ``df`` are simply replaced; keys absent from
    both the manifest and ``df`` are a no-op. With an empty ``df`` and
    non-empty ``drop_partitions`` the commit is a pure partition drop."""
    read_v = current_version(spark, table)
    root0 = _load_root(spark, table, read_v, committed=read_v)
    df, partition_by, pspec = _resolve_partitioning(df, root0, partition_by)
    if partition_by and read_v:
        df, partition_by = _to_physical(df, root0, partition_by)
    dschema = _merged_commit_schema(
        spark, table, df, partition_by, committed=read_v
    )
    rels = _write_commit_data(df, table, partition_by)
    drops = set(drop_partitions or ())
    if not rels and not drops:
        return read_v
    grouped = _group_rels(rels, partition_by)
    if drops:
        live = (
            set(_load_manifest(spark, table, read_v)["partitions"])
            if read_v
            else set()
        )
        if not ((live - drops) | set(grouped)):
            raise ValueError(
                "snapshot_overwrite_partitions(drop_partitions=...) would "
                "commit an unreadable EMPTY snapshot (every live partition "
                "dropped, nothing written) — drop or rebuild the table "
                "instead (the snapshot_overwrite_all rule)"
            )
    stats, blooms = _collect_dir_meta(
        spark, table, rels, stats_cols, bloom_cols, bloom_bits
    )
    return _commit(
        spark, table, "overwrite", grouped, replaced=set(grouped) | drops,
        meta=meta, stats=stats, dschema=dschema,
        cschema=_frame_cschema(df, partition_by),
        blooms=blooms,
        partition_scoped=True,
        read_version=read_v,
        pspec=pspec,
    )


def snapshot_meta(
    spark: SparkSession, table: str, version: int | None = None
) -> dict:
    """The ``meta`` dict a snapshot's manifest carries (``{}`` when absent
    or the table is empty/uninitialized). Because meta rides the manifest,
    reading it costs the same one pointer resolution as any snapshot read
    and is always consistent with the data it was committed with."""
    committed = current_version(spark, table)
    v = committed if version is None else version
    if v == 0:
        return {}
    # meta is ROOT-level: the consume/maintenance polls that read it per
    # tick never pay commit-manifest assembly
    return _load_root(spark, table, v, committed=committed).get("meta", {})


def resolve_as_of(spark: SparkSession, table: str, as_of) -> int:
    """The snapshot version live AT instant ``as_of`` (epoch seconds, a
    ``datetime``, or an ISO string — NAIVE datetimes/strings are read
    as UTC, so the same call resolves the same version on every host;
    pass a zone-aware value for anything else): the latest version
    whose recorded ``committed_at`` is ``<= as_of`` — Iceberg's
    timestamp travel. Fail-stops instead of guessing when (a) the
    instant precedes every recorded commit, (b) commit instants are
    OUT OF ORDER around the answer (wall clocks are informational; a
    skewed clock must surface, not silently pick a version), or (c)
    the version immediately after the answer has been EXPIRED — the
    expired manifest's instant is gone, so whether IT was live at
    ``as_of`` is unknowable and returning the older survivor would be
    a silent guess (a tag retains everything its version needs exactly
    so its reads never hit this)."""
    import datetime as _dt

    if isinstance(as_of, str):
        as_of = _dt.datetime.fromisoformat(as_of)
    if isinstance(as_of, _dt.datetime):
        if as_of.tzinfo is None:
            as_of = as_of.replace(tzinfo=_dt.timezone.utc)
        as_of = as_of.timestamp()
    history = snapshot_history(spark, table)
    stamped = [s for s in history if s["committed_at"] is not None]
    eligible = [s for s in stamped if s["committed_at"] <= as_of]
    if not eligible:
        raise ValueError(
            f"no snapshot of {table} committed at or before {as_of} "
            f"(earliest recorded instant: "
            f"{stamped[0]['committed_at'] if stamped else 'none — pre-upgrade table'})"
        )
    v = max(s["version"] for s in eligible)
    later = [s["version"] for s in history if s["version"] > v]
    if later and min(later) != v + 1:
        raise ValueError(
            f"cannot resolve {table} AS OF {as_of}: versions "
            f"{list(range(v + 1, min(later)))} after v{v} were expired, "
            "so the version actually live at that instant is unknowable "
            "— resolve by version or tag instead (tags survive expire)"
        )
    disorder = [
        s["version"] for s in stamped
        if s["version"] < v and s["committed_at"] > as_of
    ]
    if disorder:
        raise ValueError(
            f"commit instants of {table} are out of order around {as_of} "
            f"(versions {disorder} are older than v{v} but stamped later) "
            "— resolve by version or tag instead"
        )
    return v


def snapshot_read(
    spark: SparkSession,
    table: str,
    version: int | str | None = None,
    skip_where: list[tuple] | None = None,
    as_of=None,
    skip_keys: list[tuple] | None = None,
    branch: str | None = None,
) -> DataFrame:
    """Scan a snapshot (default: latest committed; with ``branch``, the
    named branch's lineage — default its HEAD, an explicit ``version``
    resolving through the branch's markers past the fork and shared
    main history before it). Historical versions
    stay readable until expired — time travel by version, by TAG name
    (a ``str`` version resolves through :func:`snapshot_tags`; the
    write-audit-publish consumer reads ``version="published"`` and never
    sees unaudited commits), or by TIMESTAMP (``as_of`` — epoch seconds
    / datetime / ISO string, resolved via :func:`resolve_as_of`).

    ``skip_where=[(col, lo, hi), ...]`` applies manifest ZONE-MAP
    skipping: directories whose recorded [min, max] for ``col`` cannot
    intersect [lo, hi] are dropped from the scan BEFORE Spark ever lists
    them — data skipping beyond partition pruning, for commits written
    with ``stats_cols``. Dirs without stats for a column are always read
    (skipping is conservative), and the caller still applies the real
    filter — skip_where only shrinks the file list, it never implements
    the predicate. Null semantics match a range predicate's: min/max
    ignore nulls, and a NULL row fails ``col BETWEEN lo AND hi`` anyway.
    Bounds compare as JSON numbers for numeric columns and as strings
    (ISO for timestamps/dates) otherwise — pass bounds of that shape.

    ``skip_keys=[(col, [v1, v2, ...]), ...]`` applies per-dir BLOOM
    skipping for point lookups (``col IN (values)``): dirs whose
    recorded bloom (written with ``bloom_cols``) proves every probe
    value absent are dropped — membership pruning that works even where
    the table is NOT clustered on the key, exactly where zone maps
    can't help. Same conservative contract: no bloom → always read,
    the caller still applies the real filter, false positives only
    cost I/O. Composes with ``skip_where`` (a dir must pass both).
    """
    committed = current_version(spark, table, branch=branch)
    if as_of is not None:
        if version is not None:
            raise ValueError("pass version OR as_of, not both")
        version = resolve_as_of(spark, table, as_of)
    if isinstance(version, str):
        resolved = _resolve_tag(spark, table, version)
        if resolved is None:
            raise KeyError(
                f"unknown tag {version!r} on {table}; tags: "
                f"{sorted(snapshot_tags(spark, table))}"
            )
        version = resolved
    v = committed if version is None else version
    manifest = _load_manifest(
        spark, table, v, committed=committed, branch=branch
    )
    all_dirs = sorted(d for dirs in manifest["partitions"].values() for d in dirs)
    if not all_dirs:
        raise ValueError(f"snapshot v{v} of {table} is empty")
    if skip_where or skip_keys:
        # hidden-partition pruning first (probes on a transform's SOURCE
        # column map to the derived partition values — dir-list
        # arithmetic, cheaper than either stats tier)
        kept = _pspec_prune(spark, manifest, all_dirs, skip_where, skip_keys)
        if skip_where:
            kept = _zone_prune(manifest, kept, skip_where)
        if skip_keys:
            kept = _bloom_prune(manifest, kept, skip_keys)
        if not kept:
            # provably-empty result with the right schema: scan one dir
            # PER COMMIT but keep no rows (cheap — limit(0) prunes at
            # the source; one dir per commit, not one overall, so the
            # empty frame still carries the full additive-evolution
            # column union)
            first_of_commit: dict[str, str] = {}
            for d in all_dirs:
                first_of_commit.setdefault(d.split("/")[1], d)
            kept = sorted(first_of_commit.values())
            empty = True
        else:
            empty = False
        all_dirs = kept
    out = _read_dirs(spark, table, all_dirs, manifest)
    if (skip_where or skip_keys) and empty:
        out = out.limit(0)
    return out


def _manifest_pcols(partitions: dict) -> list[str]:
    """Partition-column names in manifest-key order (``a=1/b=2`` keys →
    ``[a, b]``; ``''`` contributes none) — the one parser shared by the
    read path and the delete rewrite, so hive-name handling can never
    diverge between them."""
    pcols: list[str] = []
    for key in partitions:
        for part in key.split("/") if key else []:
            c = part.split("=", 1)[0]
            if c and c not in pcols:
                pcols.append(c)
    return pcols


#: hidden-partitioning transform spec: ``days(ts)``, ``months(d)``,
#: ``hours(ts)``, ``truncate(4, col)``, ``bucket(16, col)`` — Iceberg's
#: partition-transform family
_TRANSFORM_RE = re.compile(
    r"^(days|months|hours|truncate|bucket)\(\s*(?:(\d+)\s*,\s*)?([A-Za-z_][A-Za-z0-9_]*)\s*\)$"
)


def _parse_partition_by(partition_by):
    """Split a ``partition_by`` list into ``(specs, physical_names)``:
    plain column names stay identity; ``transform(...)`` entries become
    HIDDEN partition specs ``[physical, transform, arg, source]`` whose
    derived column the writer materializes under a reserved
    ``_p_<transform>_<source>`` physical name (Iceberg's hidden
    partitioning: users partition by an EXPRESSION of a data column,
    filter on the data column, and never see or maintain the derived
    value)."""
    specs = []
    phys = []
    for p in partition_by or []:
        m = _TRANSFORM_RE.match(p.strip()) if "(" in p else None
        if m is None:
            phys.append(p)
            continue
        tf, arg, src = m.group(1), m.group(2), m.group(3)
        if tf in ("truncate", "bucket"):
            if not arg or int(arg) < 1:
                raise ValueError(
                    f"{tf}() needs a positive width/count: {p!r}"
                )
            arg = int(arg)
        elif arg:
            raise ValueError(f"{tf}() takes one column only: {p!r}")
        else:
            arg = None
        name = f"_p_{tf}{arg if arg is not None else ''}_{src}"
        specs.append([name, tf, arg, src])
        phys.append(name)
    return specs, phys


def _transform_col(tf: str, arg, src: str, dtype: str):
    """The JVM expression of a partition transform over the SOURCE
    column — epoch-anchored integer buckets (Iceberg's definitions):
    days/months since 1970-01-01, hours since the epoch instant
    (timestamp-NTZ-safe via timestampdiff — unix_micros rejects NTZ),
    truncate = floor-to-multiple for integrals (negatives truncate
    DOWN — exact integer arithmetic, never a double round-trip) /
    prefix for strings, bucket = pmod(xxhash64(col), N) (the probe
    side re-evaluates THE SAME expression over the SAME type, so the
    xxhash64 physical-type sensitivity cannot split writer and
    prober). ``dtype`` is the source column's ``simpleString`` — the
    transform/type pairing is validated here, at plan time."""
    c = F.col(src)
    if tf == "days":
        if not (dtype == "date" or dtype.startswith("timestamp")):
            raise ValueError(f"days() needs a date/timestamp column, got {dtype}")
        return F.datediff(c.cast("date"), F.lit("1970-01-01").cast("date"))
    if tf == "months":
        if not (dtype == "date" or dtype.startswith("timestamp")):
            raise ValueError(f"months() needs a date/timestamp column, got {dtype}")
        y = F.year(c.cast("date")) - F.lit(1970)
        return y * 12 + F.month(c.cast("date")) - F.lit(1)
    if tf == "hours":
        if not dtype.startswith("timestamp"):
            raise ValueError(f"hours() needs a timestamp column, got {dtype}")
        return F.expr(
            f"timestampdiff(HOUR, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
            f"CAST({src} AS TIMESTAMP_NTZ))"
        )
    if tf == "truncate":
        if dtype in ("tinyint", "smallint", "int", "bigint"):
            return c - F.pmod(c, F.lit(arg))
        if dtype == "string":
            return F.substring(c, 1, arg)
        raise ValueError(
            f"truncate() supports integral/string columns, got {dtype}"
        )
    if tf == "bucket":
        if dtype not in ("tinyint", "smallint", "int", "bigint", "string", "date"):
            raise ValueError(
                f"bucket() supports integral/string/date columns, got {dtype}"
            )
        return F.pmod(F.xxhash64(c), F.lit(arg)).cast("int")
    raise ValueError(f"unknown partition transform {tf!r}")


def _materialize_pspec(df: DataFrame, specs: list) -> DataFrame:
    """Add the hidden transform columns the writer partitions by."""
    for name, tf, arg, src in specs:
        if src not in df.columns:
            raise ValueError(
                f"partition transform source column {src!r} not in frame"
            )
        if name in df.columns:
            raise ValueError(
                f"reserved partition column name {name!r} already in frame"
            )
        dtype = df.schema[src].dataType.simpleString()
        df = df.withColumn(name, _transform_col(tf, arg, src, dtype))
    return df


def _all_pspecs(manifest: dict) -> list:
    """Every partition-transform spec LIVE in this version — the
    root's current one plus each commit's recorded one (spec
    evolution). Keyed by physical name, which is injective in
    (transform, arg, source) by construction (``_p_<tf><arg>_<src>``),
    so pruning and hidden-column dropping can use the UNION: a dir
    whose path lacks a given physical name is conservatively kept."""
    seen: dict[str, list] = {}
    for s in manifest.get("pspec") or ():
        seen[s[0]] = list(s)
    for sp in (manifest.get("pspecs_by_commit") or {}).values():
        for s in sp:
            seen.setdefault(s[0], list(s))
    return list(seen.values())


def _refuse_mixed_specs(manifest: dict, table: str, op: str) -> None:
    """Copy-on-write DML rewrites land under the CURRENT spec — on a
    table whose live commits span a respec boundary that would move
    old-spec rows into new-spec dirs while their siblings stay, an
    ambiguous half-migration. Refuse with the remedy (the Iceberg
    recommendation: rewrite under the current spec, then mutate).
    Merge-on-read deletes and all reads work fine across mixed specs
    and are not gated."""
    cur = json.dumps(manifest.get("pspec") or [])
    for u, sp in (manifest.get("pspecs_by_commit") or {}).items():
        if json.dumps(sp) != cur:
            raise ValueError(
                f"{op} on {table} with MIXED partition specs (commit "
                f"{u} predates the respec) — run snapshot_rewrite under "
                "the current spec first, then retry"
            )


def _resolve_partitioning(
    df: DataFrame,
    root: dict,
    partition_by: list[str] | None,
    allow_respec: bool = False,
):
    """Shared write-verb front half for HIDDEN PARTITIONING: parse
    transform entries out of ``partition_by``, validate them against
    the table's recorded spec (fixed at first write — a mismatched
    spec or an unpartitioned write on a spec table fails fast;
    ``allow_respec`` is overwrite_all's full-replacement escape
    hatch), and materialize the hidden columns. Returns
    ``(df, physical_partition_by, specs_for_commit)`` where the last
    is ``None`` when the commit should inherit the recorded spec."""
    recorded = root.get("pspec")
    if not partition_by:
        if recorded and not allow_respec:
            raise ValueError(
                f"table is hidden-partitioned ({['%s(%s)' % (s[1], s[3]) for s in recorded]}); "
                "writes must pass the same partition_by (spec evolution "
                "= snapshot_overwrite_all with the new spec)"
            )
        return df, partition_by, ([] if recorded and allow_respec else None)
    specs, phys = _parse_partition_by(partition_by)
    norm = [list(s) for s in specs]
    if (
        recorded is not None
        and not allow_respec
        and [list(s) for s in recorded] != norm
    ):
        raise ValueError(
            f"partition spec mismatch on a hidden-partitioned table: "
            f"recorded {recorded}, write passed {norm} — the spec is "
            "fixed at first write (spec evolution = snapshot_overwrite_all)"
        )
    if specs:
        df = _materialize_pspec(df, specs)
        # pass the spec to the commit only when it CHANGES the root
        # (first write, or overwrite_all's respec) — a plain append
        # inherits, so a rebase over a concurrent snapshot_respec
        # winner cannot revert the new spec
        return df, phys, (
            norm if recorded is None or allow_respec else None
        )
    return df, phys, ([] if recorded and allow_respec else None)


def _py_transform(tf: str, arg, value):
    """Driver-side twin of the MONOTONE transforms for probe values —
    powers dir pruning from python probes with no Spark job. Returns
    ``None`` when the transform/value pair is out of twin scope (the
    dir is then conservatively kept); ``bucket`` is NOT monotone and
    never range-prunes (its point probes evaluate the JVM expression
    itself — see :func:`_bucket_points`).

    TZ-AWARE probes (datetimes with tzinfo, ISO strings with an offset
    or Z) are OUT OF SCOPE by design (round 14, VERDICT r13 #3): the
    writer's ``cast(ts as date)`` resolves instants through the SESSION
    timezone, and a naive reinterpretation of an aware probe near a day
    boundary would map to the WRONG bucket — wrong-but-not-None skips a
    dir that holds matches, the one failure pruning must never have.
    Returning None keeps the dir; the actual predicate still filters
    rows correctly inside Spark under the session zone. Naive probes
    stay in scope: they mean the same wall-clock instant the writer's
    NTZ/naive arithmetic used, in any session zone (tz-parameterized
    tests pin this)."""
    import datetime as _dt

    def as_date(v):
        if isinstance(v, _dt.datetime):
            return None if v.tzinfo is not None else v.date()
        if isinstance(v, _dt.date):
            return v
        if isinstance(v, str):
            try:
                t = _dt.datetime.fromisoformat(v) if len(v) > 10 else None
            except ValueError:
                t = None
            if t is not None and t.tzinfo is not None:
                return None
            try:
                return _dt.date.fromisoformat(v[:10])
            except ValueError:
                return None
        return None

    if tf == "days":
        d = as_date(value)
        return None if d is None else (d - _dt.date(1970, 1, 1)).days
    if tf == "months":
        d = as_date(value)
        return None if d is None else (d.year - 1970) * 12 + d.month - 1
    if tf == "hours":
        if isinstance(value, _dt.datetime):
            if value.tzinfo is not None:
                return None
            t = value
        elif isinstance(value, _dt.date):
            t = _dt.datetime(value.year, value.month, value.day)
        elif isinstance(value, str):
            try:
                t = _dt.datetime.fromisoformat(value)
            except ValueError:
                return None
            if t.tzinfo is not None:
                return None
        else:
            return None
        secs = (t - _dt.datetime(1970, 1, 1)).total_seconds()
        return int(secs // 3600)
    if tf == "truncate":
        if isinstance(value, bool):
            return None
        if isinstance(value, int):
            return value - (value % arg)
        if isinstance(value, str):
            return value[:arg]
    return None


def _bucket_points(
    spark: SparkSession, manifest: dict, src: str, arg: int, values: list
) -> set | None:
    """Bucket ids for point-probe values, computed by evaluating the
    WRITER'S OWN JVM expression over the source column's RECORDED type
    (one driver-sized job): xxhash64 is physical-type-sensitive, so a
    python reimplementation is exactly the trap the bloom whitelist
    documents — re-evaluating the expression cannot drift. ``None``
    (no pruning) when the source type is unrecorded or values don't
    fit it."""
    stype = manifest.get("dschema", {}).get(src)
    if stype is None:
        return None
    try:
        probe = spark.createDataFrame(
            [(v,) for v in values if v is not None], f"{src} {stype}"
        )
        rows = probe.select(
            _transform_col("bucket", arg, src, stype).alias("b")
        ).collect()
    except Exception:
        return None
    return {r["b"] for r in rows}


def _dir_pvals(d: str) -> dict[str, str]:
    """A commit dir's hive partition values (``data/<uuid>/a=1/b=x`` ->
    ``{a: '1', b: 'x'}``) — raw path strings; callers parse/compare
    conservatively."""
    out: dict[str, str] = {}
    for part in d.split("/")[2:]:
        if "=" in part:
            k, v = part.split("=", 1)
            out[k] = v
    return out


def _pspec_prune(
    spark: SparkSession,
    manifest: dict,
    dirs: list[str],
    skip_where: list | None,
    skip_keys: list | None,
) -> list[str]:
    """HIDDEN-PARTITION pruning: probes on a transform's SOURCE column
    prune dirs by their derived partition VALUE — ``skip_where``
    ranges map through the monotone transforms' python twins
    (days/months/hours/truncate preserve order, so [lo, hi] maps to
    [t(lo), t(hi)]), ``skip_keys`` point sets map through any
    transform (bucket via the JVM expression). Conservative like every
    prune here: unparsable dir values, NULL partitions
    (__HIVE_DEFAULT_PARTITION__) and out-of-twin probes keep the
    dir."""
    specs = _all_pspecs(manifest)
    if not specs or not (skip_where or skip_keys):
        return dirs
    by_src: dict[str, list] = {}
    for name, tf, arg, src in specs:
        by_src.setdefault(src, []).append((name, tf, arg))
    #: (physical pcol, predicate over the dir's derived value)
    ranges: list[tuple[str, int | str, int | str]] = []
    points: list[tuple[str, set]] = []
    for col, lo, hi in skip_where or ():
        for name, tf, arg in by_src.get(col, ()):
            tlo, thi = _py_transform(tf, arg, lo), _py_transform(tf, arg, hi)
            if tlo is not None and thi is not None:
                ranges.append((name, tlo, thi))
    for col, values in skip_keys or ():
        for name, tf, arg in by_src.get(col, ()):
            if tf == "bucket":
                pts = _bucket_points(spark, manifest, col, arg, list(values))
            else:
                pts = set()
                for v in values:
                    tv = _py_transform(tf, arg, v)
                    if tv is None:
                        pts = None
                        break
                    pts.add(tv)
            if pts is not None:
                points.append((name, pts))
    if not ranges and not points:
        return dirs

    def may_match(d: str) -> bool:
        pv = _dir_pvals(d)
        for name, tlo, thi in ranges:
            raw = pv.get(name)
            if raw is None or raw == "__HIVE_DEFAULT_PARTITION__":
                continue
            try:
                # string values are hive-%XX-escaped in the path ('a/b'
                # -> 'a%2F'); comparing the RAW form against a python
                # prefix would wrongly prune the dir holding the key
                val = int(raw) if isinstance(tlo, int) else unquote(raw)
            except ValueError:
                continue
            if val < tlo or val > thi:
                return False
        for name, pts in points:
            raw = pv.get(name)
            if raw is None or raw == "__HIVE_DEFAULT_PARTITION__":
                continue
            sample = next(iter(pts)) if pts else None
            try:
                val = int(raw) if isinstance(sample, int) else unquote(raw)
            except ValueError:
                continue
            if val not in pts:
                return False
        return True

    return [d for d in dirs if may_match(d)]


def _pcol_map(manifest_or_root: dict) -> dict[str, str]:
    """PHYSICAL partition-column name -> CURRENT logical name at this
    version (identity when never renamed): partition values are
    path-encoded, so a partition-column rename (round 13) is a
    metadata-only fold over the root's ``pcol_log`` — dir names and
    manifest partition keys keep the PHYSICAL name forever, the read
    path aliases the reconstructed column, and every write resolves
    logical -> physical before landing files (:func:`_to_physical`).
    Works on a root (entry pkeys) or an assembled manifest."""
    if "manifests" in manifest_or_root:
        pkeys = {
            k: [] for e in manifest_or_root["manifests"]
            for k in e.get("pkeys", ())
        }
    else:
        pkeys = manifest_or_root.get("partitions", {})
    cur = {p: p for p in _manifest_pcols(pkeys)}
    for _v, a, b in manifest_or_root.get("pcol_log", ()):
        for p, name in cur.items():
            if name == a:
                cur[p] = b
    return cur


def _to_physical(
    df: DataFrame, manifest_or_root: dict, partition_by: list[str] | None
) -> tuple[DataFrame, list[str] | None]:
    """Resolve a writer's (possibly logical) partition-column names to
    the PHYSICAL names the table's dir layout uses, renaming the frame's
    columns to match — so the manifest's partition-key namespace stays
    uniform across partition-column renames. Identity for tables that
    never renamed a partition column."""
    if not partition_by:
        return df, partition_by
    logical_to_phys = {
        log: phys
        for phys, log in _pcol_map(manifest_or_root).items()
        if log != phys
    }
    out_pb = []
    for c in partition_by:
        phys = logical_to_phys.get(c)
        if phys is not None and c in df.columns:
            df = df.withColumnRenamed(c, phys)
            out_pb.append(phys)
        else:
            out_pb.append(c)
    return df, out_pb


def _phys_col(manifest: dict, commit_id: str, logical: str) -> str | None:
    """The PHYSICAL column name a commit's files store ``logical``
    under, or ``None`` when the commit has no physical column for it:
    stats/blooms are recorded from the frame at write time, so a commit
    written before a rename keys them by the old name — pruning on the
    current logical name must resolve through the commit's column map
    (identity when unmapped). ``None`` (treated as "no stats" — always
    read, conservative) covers two stale-identity traps: a physical
    name RE-CLAIMED by a later column of the same name (rename a->b
    then add a fresh ``a`` — the old commit's ``a`` stats describe
    what is now ``b``), and a DROPPED physical column."""
    m = manifest.get("colmaps", {}).get(commit_id)
    if m:
        for phys, log in m.items():
            if log == logical:
                return phys
        if logical in m:
            return None
    if logical in manifest.get("dropcols", {}).get(commit_id, ()):
        return None
    return logical


def _zone_prune(
    manifest: dict, dirs: list[str], skip_where: list[tuple]
) -> list[str]:
    """Dirs from ``dirs`` that MAY hold rows intersecting every
    ``(col, lo, hi)`` range — manifest zone-map skipping, conservative:
    a dir without recorded stats for a column is always kept. Probe
    columns are LOGICAL names; per-dir stats resolve through the
    commit's column map (:func:`_phys_col`)."""
    zone = manifest.get("stats", {})

    def may_match(d: str) -> bool:
        stats = zone.get(d)
        if not stats:
            return True  # unknown dir: must read
        commit = d.split("/")[1]
        for col, lo, hi in skip_where:
            pc = _phys_col(manifest, commit, col)
            if pc not in stats:
                continue
            dlo, dhi = stats[pc]
            if _norm_stat(lo) > dhi or _norm_stat(hi) < dlo:
                return False
        return True

    return [d for d in dirs if may_match(d)]


def _type_family(t: str) -> str:
    """Coarse type family for partition-column compatibility: partition
    types re-infer from path strings per commit, so exact types
    legitimately differ within a family (``p=3`` infers ``int`` beside a
    ``bigint`` data column — Spark's union upcast is deterministic
    there), while a CROSS-family mix has value-dependent cast semantics
    and must be rejected. Shared by the read gate and the merge gate so
    the two can never diverge."""
    if t in ("tinyint", "smallint", "int", "bigint"):
        return "integral"
    if t in ("float", "double") or t.startswith("decimal"):
        return "fractional"
    if t.startswith("timestamp"):
        return "timestamp"
    return t


def _read_dirs(
    spark: SparkSession, table: str, all_dirs: list[str], manifest: dict
) -> DataFrame:
    """Union scan of specific table-relative commit dirs, with the
    version's MERGE-ON-READ key-delete files applied (round 13): dirs
    sharing the same applicable delete-entry set scan together through
    :func:`_read_dirs_raw`, then anti-join each entry's key file on its
    recorded (logical) key columns — a dir not named by any entry pays
    nothing, and dirs written AFTER a delete are never touched by it
    (re-inserting a deleted key works). AQE sizes the anti-join build
    side (key files are usually tiny; never force-broadcast a GDPR
    million-key file)."""
    dels = manifest.get("deletes") or []
    if dels:
        dsets = [set(de["dirs"]) for de in dels]
        groups: dict[tuple, list[str]] = {}
        for d in all_dirs:
            ids = tuple(i for i, ds in enumerate(dsets) if d in ds)
            groups.setdefault(ids, []).append(d)
        if len(groups) > 1 or next(iter(groups)) != ():
            frames = []
            for ids in sorted(groups):
                f = _read_dirs_raw(spark, table, sorted(groups[ids]), manifest)
                for i in ids:
                    de = dels[i]
                    keys = spark.read.parquet(f"{table}/{de['file']}")
                    f = f.join(keys, de["cols"], "left_anti")
                frames.append(f)
            out = frames[0]
            for f in frames[1:]:
                out = out.unionByName(f, allowMissingColumns=True)
            return out
    return _read_dirs_raw(spark, table, all_dirs, manifest)


#: Constructed-frame memo (r14, guide §1.2/§6): building a per-commit
#: scan LISTS its dirs and reads a parquet footer driver-side, so a
#: snapshot_read costs real sequential wall BEFORE any job runs
#: (~0.1 s per call on a 6-commit × 30-dir table; a protocol exercise
#: like x44 resolves only 15 distinct dir-sets across 31 reads). Commit
#: dirs are IMMUTABLE once published (new commits mint new uuids, never
#: append in place), so a frame keyed on (session, table, exact dir
#: set, the manifest fields that shape construction) can be handed back
#: verbatim — this memoizes PLAN CONSTRUCTION only; every action on the
#: frame still scans parquet. The metadata-plane analog
#: (_ASSEMBLED_CACHE) carries the same immutability argument.
_FRAME_MEMO: dict[tuple, DataFrame] = {}


def _frame_memo_key(spark: SparkSession, table: str,
                    all_dirs: list[str], manifest: dict) -> tuple:
    """Everything :func:`_read_dirs_raw` construction depends on: the
    dir set plus the manifest's logical-mapping state (colmaps/dropcols/
    cschemas), the partition-column namespace (pcols + pcol renames) and
    the hidden-partitioning spec columns. Two manifests agreeing on all
    of those produce identical frames for the same dirs."""
    ident = hashlib.md5(
        json.dumps(
            [
                manifest.get("colmaps", {}),
                manifest.get("dropcols", {}),
                manifest.get("cschemas", {}),
                # UNSORTED, in manifest-key order: _read_dirs_raw_build
                # canonicalizes the output column order from this exact
                # sequence, so the key must capture order as construction
                # consumes it — two manifests with the same pcol SET but a
                # different sequence must not share a frame.
                _manifest_pcols(manifest.get("partitions", {})),
                sorted(_pcol_map(manifest).items()),
                sorted(s[0] for s in _all_pspecs(manifest)),
            ],
            sort_keys=True,
            default=str,
        ).encode()
    ).hexdigest()
    return (
        spark.sparkContext.applicationId,
        id(spark),
        table,
        tuple(sorted(all_dirs)),
        ident,
    )


def _read_dirs_raw(
    spark: SparkSession, table: str, all_dirs: list[str], manifest: dict
) -> DataFrame:
    key = _frame_memo_key(spark, table, all_dirs, manifest)
    hit = _FRAME_MEMO.get(key)
    if hit is not None:
        return hit
    out = _read_dirs_raw_build(spark, table, all_dirs, manifest)
    if len(_FRAME_MEMO) > 256:
        _FRAME_MEMO.clear()
    _FRAME_MEMO[key] = out
    return out


def _read_dirs_raw_build(
    spark: SparkSession, table: str, all_dirs: list[str], manifest: dict
) -> DataFrame:
    """Union scan of specific table-relative commit dirs.

    Partition columns reconstruct per commit directory (basePath); the
    union preserves them, so partition filters prune inside every
    referenced directory. MIXED layouts (an unpartitioned commit beside
    partitioned ones) would otherwise expose a column ORDER decided by
    whichever commit uuid happens to sort first (fresh-table
    nondeterministic): unionByName aligns names but keeps frame[0]'s
    order, and partition columns read back AFTER the data columns only
    for partitioned commits. Canonicalize partition-key columns to the
    end — a no-op for uniform tables.

    ADDITIVE schema evolution (the Iceberg add-column shape): commits
    may carry columns earlier commits lack — the union back-fills NULL
    for dirs written before the column existed (allowMissingColumns),
    so appending a frame with a new column never breaks reads of the
    whole table, and time travel sees each version's own column union.
    A same-name DATA column whose TYPE changed between commits is
    REJECTED here with an explicit error: left to Spark, the union
    would insert a runtime ANSI cast that fails on some values and
    silently coerces others ('123' -> 123) — value-dependent behavior,
    not a schema contract. The comparison is on ``simpleString`` so
    nested NULLABILITY differences (collect_list's containsNull=false
    array vs a schema-declared one) never spuriously reject a readable
    table. :func:`snapshot_append` enforces the same rule at WRITE time
    against the manifest's recorded schema union, so this gate only
    fires for pre-upgrade tables or out-of-band writes; recover one by
    ``snapshot_rollback`` to a pre-change version (a rewrite can't run —
    it starts with this very read).

    Partition columns get a FAMILY-level version of the same check
    instead of an exemption: their types re-infer from path strings per
    commit (never evolved), and in a MIXED layout the same name can also
    appear as a real data column (supported — the rewrite tests pin it),
    so exact types legitimately differ (``p=3`` paths infer ``int``
    beside a ``bigint`` data column — Spark's union upcasts
    deterministically). What must NOT pass is a cross-family mix
    (``string`` data beside ``int``-inferred paths): there the union
    cast is value-dependent ('123' coerces, 'x' nulls) — the exact hole
    the write-time gate can't see, because partition VALUES aren't in
    the frame it checks. Families: integral / fractional / timestamp /
    everything else exact."""
    _family = _type_family

    by_commit: dict[str, list[str]] = {}
    for d in all_dirs:
        by_commit.setdefault(d.split("/")[1], []).append(d)  # data/<uuid>/...
    # Bound the plan for long histories: UNPARTITIONED commits whose
    # manifest-recorded schemas (cschemas, written per commit) are
    # identical collapse into ONE multi-path FileScan — a maintained
    # unpartitioned table with hundreds of small commits reads with a
    # handful of scans instead of one per commit (plan-asserted in
    # tests). Partitioned commits keep one scan each: their partition
    # columns reconstruct against a per-commit basePath, and Spark
    # rejects a shared basePath across the uuid level ("conflicting
    # directory structures" — verified empirically); their escape valve
    # is the rewrite cadence (snapshot_rewrite folds all live commits
    # into one, so the steady-state scan count is the commits since the
    # last rewrite — documented maintenance contract). Commits without
    # a recorded schema (pre-upgrade tables) also scan individually.
    # rename/drop evolution (round 12): physical file columns map to the
    # manifest's CURRENT logical names per commit (``colmaps``), and
    # per-commit dropped physical columns are projected away — a rename
    # or drop is a metadata commit, never a rewrite; time travel applies
    # each version's OWN maps, so every version shows its own names
    colmaps = manifest.get("colmaps", {})
    dropm = manifest.get("dropcols", {})

    def apply_map(commit_id: str, f: DataFrame) -> DataFrame:
        m = colmaps.get(commit_id, {})
        drop = set(dropm.get(commit_id, ()))
        if not m and not drop:
            return f
        return f.select(
            *[
                F.col(c).alias(m.get(c, c))
                for c in f.columns
                if c not in drop
            ]
        )

    scan_specs: list[tuple[str, str | None, list[str]]] = []  # (commit, basePath, paths)
    flat_groups: dict[str, list[str]] = {}
    flat_first: dict[str, str] = {}
    cschemas = manifest.get("cschemas", {})
    for commit_id, dirs in sorted(by_commit.items()):
        flat = dirs == [f"data/{commit_id}"]
        sch = cschemas.get(commit_id)
        if flat and sch is not None:
            # the scan-group key includes the commit's column map and
            # drop list: commits with identical physical schemas but
            # DIFFERENT logical mappings must not share one scan
            key = json.dumps(
                [
                    sch,
                    sorted(colmaps.get(commit_id, {}).items()),
                    sorted(dropm.get(commit_id, ())),
                ]
            )
            flat_first.setdefault(key, commit_id)
            flat_groups.setdefault(key, []).append(f"{table}/data/{commit_id}")
        else:
            scan_specs.append(
                (
                    commit_id,
                    f"{table}/data/{commit_id}",
                    [f"{table}/{d}" for d in sorted(dirs)],
                )
            )
    for key, paths in flat_groups.items():
        scan_specs.append((flat_first[key], None, sorted(paths)))

    # Constructing each per-commit scan lists its dirs and reads a footer
    # DRIVER-side; a partitioned multi-commit table pays len(commits) ×
    # len(dirs) sequential round-trips per snapshot_read (measured
    # ~0.7 s of pure construction on a 6-commit × 30-dir table — as much
    # as the census action itself). The constructions are independent —
    # build them on a small thread pool (guide §2.6 overlap; pure plan
    # construction, no jobs) and keep the deterministic commit-id order.
    def _build(spec):
        cid, base_path, paths = spec
        reader = spark.read
        if base_path is not None:
            reader = reader.option("basePath", base_path)
        return cid, apply_map(cid, reader.parquet(*paths))

    if len(scan_specs) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(min(8, len(scan_specs))) as pool:
            groups = list(pool.map(_build, scan_specs))
    else:
        groups = [_build(s) for s in scan_specs]
    frames = [f for _, f in sorted(groups, key=lambda g: g[0])]
    pcols = _manifest_pcols(manifest["partitions"])
    seen_types: dict[str, str] = {}
    seen_fams: dict[str, str] = {}
    for f in frames:
        for fld in f.schema.fields:
            t = fld.dataType.simpleString()  # nullability-insensitive
            if fld.name in pcols:
                if t == "void":
                    continue  # NULL-only commit: no family; the union widens it
                fam = _family(t)
                pfam = seen_fams.setdefault(fld.name, fam)
                if pfam != fam:
                    raise ValueError(
                        f"partition column {fld.name!r} of {table} mixes "
                        f"incompatible types across commits ({pfam} vs "
                        f"{fam}): a mixed-layout table wrote it both as a "
                        "data column and as a path-inferred partition key "
                        "with value-dependent union semantics — rewrite "
                        "the table with one consistent layout"
                    )
                continue
            prev = seen_types.setdefault(fld.name, t)
            if prev != t:
                # in-chain widening unions deterministically (Spark
                # upcasts int+bigint -> bigint, float+double -> double);
                # everything else stays rejected
                p = _promoted(prev, t)
                if p is None:
                    raise ValueError(
                        f"column {fld.name!r} of {table} changed type "
                        f"across commits ({prev} vs {t}); snapshot "
                        "evolution is additive-only (plus safe int/float "
                        "widening) — roll back to a pre-change version "
                        "(snapshot_rollback) or rebuild the table from "
                        "cast frames"
                    )
                seen_types[fld.name] = p
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    if pcols:
        data_cols = [c for c in out.columns if c not in pcols]
        out = out.select(*data_cols, *[c for c in pcols if c in out.columns])
        for c in set(pcols) & set(out.columns) - set(seen_fams):
            # every scanned commit was NULL-only: a void column that a
            # rewrite could not write back as a partition key
            out = out.withColumn(c, F.col(c).cast("string"))
    # partition-column renames are a metadata fold (pcol_log): the scan
    # reconstructs the PHYSICAL path name, this alias exposes the
    # version's logical name — Catalyst pushes logical-name filters
    # through the alias to the partitioned scan, so pruning survives
    # the rename (plan-asserted in tests)
    for phys, logical in _pcol_map(manifest).items():
        if phys != logical and phys in out.columns:
            out = out.withColumnRenamed(phys, logical)
    # hidden-partitioning transform columns are the WRITER'S layout
    # detail, never part of the table: drop them (the source column is
    # in the data files; rewrites rematerialize the transform) — the
    # UNION across specs, so pre-respec commits' columns hide too
    hidden = {s[0] for s in _all_pspecs(manifest)}
    if hidden:
        keep = [c for c in out.columns if c not in hidden]
        if keep:
            out = out.select(*keep)
    return out


def _read_state_side(
    spark: SparkSession, table: str, dirs: list[str], manifest: dict
) -> DataFrame | None:
    """One side of a pruned state diff: scan exactly ``dirs`` (a subset
    of the version's manifest). Empty ``dirs`` over a non-empty snapshot
    returns a ZERO-ROW frame carrying the version's full additive column
    union (one dir per commit, ``limit(0)`` — prunes at the source);
    ``None`` when the snapshot itself is empty (v0 — the caller aligns
    against the other side's schema)."""
    all_dirs = sorted(x for ds in manifest["partitions"].values() for x in ds)
    if dirs:
        return _read_dirs(spark, table, sorted(dirs), manifest)
    if not all_dirs:
        return None
    first_of_commit: dict[str, str] = {}
    for x in all_dirs:
        first_of_commit.setdefault(x.split("/")[1], x)
    return _read_dirs(
        spark, table, sorted(first_of_commit.values()), manifest
    ).limit(0)


def snapshot_diff(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None = None,
    branch: str | None = None,
) -> dict:
    """Directory-level delta between two committed snapshots:
    ``{"from", "to", "added": [rel dirs], "removed": [rel dirs]}``.

    Manifest-only — no data is listed or read, so the diff costs two
    JSON reads regardless of table size. ``removed`` non-empty means an
    overwrite/rewrite/rollback happened in the range (the table is not
    append-only over it).

    MERGE-ON-READ deletes (round 13): a dir live at both versions whose
    applicable delete-entry set CHANGED in the range holds different
    EFFECTIVE rows even though its bytes never moved — it reports as
    removed (its from-state) AND added (its to-state), so file-level
    incremental reads refuse the range (correct: it is a replacement)
    and the keyed state diff reads the dir under both versions' delete
    sets, producing exact delete images."""
    committed = current_version(spark, table, branch=branch)
    to_v = committed if to_version is None else to_version
    mf = _load_manifest(
        spark, table, from_version, committed=committed, branch=branch
    )
    mt = _load_manifest(spark, table, to_v, committed=committed, branch=branch)
    dirs_f = {d for dirs in mf["partitions"].values() for d in dirs}
    dirs_t = {d for dirs in mt["partitions"].values() for d in dirs}

    def _del_map(m: dict) -> dict[str, set]:
        out: dict[str, set] = {}
        for de in m.get("deletes", ()) or ():
            for d in de["dirs"]:
                out.setdefault(d, set()).add(de["file"])
        return out

    dmf, dmt = _del_map(mf), _del_map(mt)
    changed = {
        d
        for d in dirs_f & dirs_t
        if dmf.get(d, set()) != dmt.get(d, set())
    }
    return {
        "from": from_version,
        "to": to_v,
        "added": sorted((dirs_t - dirs_f) | changed),
        "removed": sorted((dirs_f - dirs_t) | changed),
    }


def snapshot_changes(
    spark: SparkSession,
    table: str,
    since_version: int,
    to_version: int | None = None,
    allow_replacements: bool = False,
    branch: str | None = None,
) -> DataFrame:
    """Rows ADDED between two snapshot versions, read from ONLY the new
    directories — the Iceberg incremental-read shape: a downstream
    consumer that processed v_N catches up to v_M by scanning the delta
    commits, never the whole table (at 100 TB the difference between an
    incremental pipeline and a nightly full rescan).

    Append-only ranges are exact: the result is precisely the appended
    rows. If the range REMOVED directories (overwrite/rewrite/rollback),
    an added dir may carry rewritten copies of old rows, so "what
    changed" is ambiguous at file granularity — fail fast unless
    ``allow_replacements=True`` (then the new dirs' rows are returned
    as-is and the caller owns dedup/merge semantics; pair with
    :func:`snapshot_diff` to see what was dropped). An empty delta
    returns zero rows with the table's schema."""
    committed = current_version(spark, table, branch=branch)
    to_v = committed if to_version is None else to_version
    d = snapshot_diff(spark, table, since_version, to_version=to_v, branch=branch)
    if d["removed"] and not allow_replacements:
        raise ValueError(
            f"snapshot range v{since_version}->v{to_v} of {table} removed "
            f"{len(d['removed'])} dir(s) (op history includes an overwrite/"
            "rewrite/rollback); file-level incremental reads are ambiguous "
            "over replacements — pass allow_replacements=True to consume "
            "the new dirs anyway, or rebuild from snapshot_read"
        )
    manifest = _load_manifest(
        spark, table, to_v, committed=committed, branch=branch
    )
    all_dirs = sorted(x for dirs in manifest["partitions"].values() for x in dirs)
    if not all_dirs:
        raise ValueError(
            f"snapshot v{to_v} of {table} is empty — no schema to derive a "
            "(possibly empty) delta frame from"
        )
    if not d["added"]:
        return _read_dirs(spark, table, all_dirs, manifest).limit(0)
    return _read_dirs(spark, table, d["added"], manifest)


def snapshot_consume_changes(
    spark: SparkSession,
    source: str,
    sink: str,
    transform=None,
    partition_by: list[str] | None = None,
    hwm_key: str = "consumed_source_version",
) -> dict:
    """ONE poll of an incremental snapshot consumer with exactly-once
    delivery — the consumer-side contract of :func:`snapshot_changes`.

    Reads the consumer's high-water mark (the last consumed SOURCE
    version) from the SINK's manifest meta, consumes
    ``snapshot_changes(source, hwm -> current)``, applies ``transform``
    (optional, DataFrame -> DataFrame), and lands the result via ONE
    ``snapshot_append`` whose ``meta`` carries the new mark — the same
    data+watermark-in-one-atomic-swap pattern as the rollup/CDC
    maintenance streams' batch ids. A crash at ANY point either commits
    both the rows and the mark or neither: orphaned data files from a
    pre-publish crash are invisible, and the retry re-consumes the same
    range. A restarted consumer has NO local state — the mark lives in
    the sink — so each appended source dir is processed exactly once no
    matter where the previous run died.

    Replacement commits in the range make ``snapshot_changes`` fail
    fast (by design — see there); recover a consumer stranded behind a
    compaction by rebuilding the sink from ``snapshot_read`` or, when
    the maintained table has unique keys, switching to
    :func:`snapshot_row_changes`.

    A range that added no directories (maintenance-only history)
    returns ``consumed=0`` WITHOUT advancing the mark (an empty append
    is a no-op by the empty-commit guard); the next poll re-diffs the
    same range — two manifest reads, no data I/O. A range whose dirs
    ``transform`` filters down to ZERO rows instead advances the mark
    via a meta-only ``consume_mark`` commit (once the sink is
    initialized) — otherwise every poll would re-scan and re-transform
    an ever-growing range as source commits accumulate.

    Deployment shape: call on a schedule, or from any driver loop —
    e.g. ``foreachBatch`` of a clock stream — one poll per tick;
    concurrency contract is single-consumer-per-sink (the usual
    maintenance-writer rule).

    Returns ``{"from", "to", "consumed", "sink_version"}`` where
    ``consumed`` is 1 when a commit landed.
    """
    last = int(snapshot_meta(spark, sink).get(hwm_key, 0))
    cur = current_version(spark, source)
    if cur <= last:
        return {"from": last, "to": last, "consumed": 0,
                "sink_version": current_version(spark, sink)}
    delta = snapshot_changes(spark, source, last, to_version=cur)
    if transform is not None:
        delta = transform(delta)
    meta = {**snapshot_meta(spark, sink), hwm_key: cur}
    before = current_version(spark, sink)
    v = snapshot_append(spark, sink, delta, partition_by, meta=meta)
    if v == before and before > 0:
        # The range ADDED source dirs but ``transform`` filtered every
        # row out, so the append no-opped (empty-commit guard) and the
        # mark did not ride it. Without advancing it here, every later
        # poll would re-scan and re-transform the SAME ever-growing
        # range — a real data job per poll, not the two-manifest-read
        # no-op of a dir-less range. Publish a META-ONLY commit carrying
        # the mark: it adds no partitions (nothing lands twice on a
        # crash-retry — re-consuming the range reproduces the same empty
        # output), it just records that the range was consumed. Skipped
        # while the sink is still uninitialized (an empty v1 would
        # poison snapshot_read — the bounded bootstrap re-scan lasts
        # only until the first non-empty transform output).
        v = _commit(spark, sink, "consume_mark", {}, meta=meta)
    return {"from": last, "to": cur, "consumed": int(v > before),
            "sink_version": v}


def snapshot_consume_row_changes(
    spark: SparkSession,
    source: str,
    sink: str,
    keys: list[str],
    transform=None,
    partition_by: list[str] | None = None,
    hwm_key: str = "consumed_source_version",
) -> dict:
    """ONE poll of a ROW-LEVEL incremental consumer of a MAINTAINED
    table — the complete Delta-CDF consumer story: while the unconsumed
    range is APPEND-ONLY it consumes at file granularity (reads only the
    appended dirs, tagging every row ``insert`` — no join, no old-state
    read), and the first time the range contains a replacement commit
    (upsert / compaction / purge / rollback) it falls back to the keyed
    state diff of :func:`snapshot_row_changes`, whose scans stay pruned
    to the manifest delta. Either way the poll never rescans data the
    range didn't touch.

    Exactly-once delivery is identical to :func:`snapshot_consume_changes`
    (and shares its meta-only-mark behavior for filtered-to-empty
    ranges): the high-water mark rides the sink manifest's meta on the
    same atomic swap as the data, so a crash anywhere commits both or
    neither and a restarted consumer holds no local state.

    The sink receives the source columns plus ``_change_type``
    (``insert`` / ``delete`` / ``update_preimage`` / ``update_postimage``)
    — a true change FEED, so downstream applies changes instead of
    rebuilding state. ``keys`` must be unique per source snapshot (the
    maintained-table contract). ``transform`` (optional) maps the change
    frame before landing; ``partition_by`` partitions the sink.

    Returns ``{"from", "to", "mode": "files"|"rows", "consumed",
    "sink_version"}``.
    """
    last = int(snapshot_meta(spark, sink).get(hwm_key, 0))
    cur = current_version(spark, source)
    if cur <= last:
        return {"from": last, "to": last, "mode": "none", "consumed": 0,
                "sink_version": current_version(spark, sink)}
    d = snapshot_diff(spark, source, last, to_version=cur)
    if not d["removed"]:
        mode = "files"
        delta = snapshot_changes(spark, source, last, to_version=cur)
        delta = delta.withColumn("_change_type", F.lit("insert"))
    else:
        mode = "rows"
        delta = snapshot_row_changes(spark, source, keys, last, to_version=cur)
    if transform is not None:
        delta = transform(delta)
    meta = {**snapshot_meta(spark, sink), hwm_key: cur}
    before = current_version(spark, sink)
    v = snapshot_append(spark, sink, delta, partition_by, meta=meta)
    if v == before and before > 0:
        # same meta-only mark-advance as snapshot_consume_changes (see
        # there): an all-filtered range must not be re-diffed forever
        v = _commit(spark, sink, "consume_mark", {}, meta=meta)
    return {"from": last, "to": cur, "mode": mode,
            "consumed": int(v > before), "sink_version": v}


def snapshot_row_changes(
    spark: SparkSession,
    table: str,
    keys: list[str],
    from_version: int,
    to_version: int | None = None,
    ignore_cols: list[str] | None = None,
    branch: str | None = None,
) -> DataFrame:
    """ROW-level change feed between two snapshot versions of a
    MAINTAINED table — the answer :func:`snapshot_changes` correctly
    refuses to give once the range contains a replacement commit
    (upsert-maintenance + compaction is exactly that case, and a
    downstream consumer of a maintained table hits it the first time
    compaction runs).

    Semantics are the Delta CDF shape: a keyed diff of the two snapshot
    STATES. For each ``keys`` tuple —

    * present only at ``to``   -> one ``insert`` row (new image);
    * present only at ``from`` -> one ``delete`` row (old image);
    * present at both with any non-key, non-``ignore_cols`` column
      differing (null-safe) -> ``update_preimage`` + ``update_postimage``
      rows;
    * unchanged -> no output.

    Because the diff is between STATES, it is exact across ANY commit
    history in the range — appends, upserts, dynamic-partition
    overwrites, compaction/rewrite, rollback — unlike file-level
    incremental reads. Requires ``keys`` to be unique within each
    snapshot (the maintained-table contract; the CDC current-state and
    rollup tables hold it by construction). ``ignore_cols`` excludes
    physical columns (e.g. a re-derivable ``bucket``) from the
    difference test; they still appear in the output images.

    Plan shape: the scans are PRUNED by the manifest delta — the old
    side reads ONLY the directories the range REMOVED, the new side
    ONLY the directories it ADDED (``snapshot_diff``; two manifest
    reads, no listing). This is EXACT, not approximate, because
    committed directories are immutable and ``keys`` are unique per
    snapshot: a directory present at both versions holds byte-identical
    rows at both, so a key living in a shared dir at ``to`` was there
    with the same image at ``from`` (a second from-image elsewhere
    would duplicate the key), and vice versa — shared-dir keys are
    provably unchanged and never need to be read. Then ONE full-outer
    shuffle join on ``keys`` over the pruned sides; the change
    classification is a single CASE producing an array of
    (image, change_type) structs that explodes in the same stage — no
    per-change-type branch unions re-reading the join. At 100 TB the
    diff therefore costs ∝ data the range actually rewrote (a one-bucket
    upsert reads one old dir + one new dir), never ∝ table size; output
    is ∝ changed rows. An append-only range degenerates to reading just
    the appended dirs (all inserts), matching ``snapshot_changes``.

    ADDITIVE schema evolution inside the range is handled with the same
    ``allowMissingColumns`` semantics as the read path: a column one
    side lacks is NULL-filled there, so a consumer survives the
    add-column commit — old images of rows upserted after the add carry
    NULL for the new column, and rows untouched across it produce no
    change rows at all. A same-name column whose TYPE changed between
    the two versions still raises (the write-time gate rejects that
    history; this guards pre-upgrade tables).

    Output: the table's columns plus ``_change_type`` (string). Rows
    with deletes carry the OLD image, inserts/postimages the NEW one.
    """
    committed = current_version(spark, table, branch=branch)
    to_v = committed if to_version is None else to_version
    d = snapshot_diff(spark, table, from_version, to_version=to_v, branch=branch)
    mf = _load_manifest(
        spark, table, from_version, committed=committed, branch=branch
    )
    mt = _load_manifest(spark, table, to_v, committed=committed, branch=branch)
    if not any(mt["partitions"].values()) and not any(mf["partitions"].values()):
        raise ValueError(
            f"snapshots v{from_version} and v{to_v} of {table} are both "
            "empty — no schema to diff"
        )
    old = _read_state_side(spark, table, d["removed"], mf)
    new = _read_state_side(spark, table, d["added"], mt)
    if old is None and new is None:  # pragma: no cover — delta is never
        raise AssertionError("empty delta over non-empty snapshots")
    # RENAME/DROP evolution inside the range: the old side read under
    # the FROM version's maps carries that version's names — replay the
    # TO manifest's rename log entries in (from, to] so both sides diff
    # under the TO version's naming (log order matters: renames chain),
    # and project away columns the range DROPPED (a drop is a schema
    # change, not a row change — emitting old-value->NULL updates for
    # every surviving row would be noise, and the column is gone from
    # the table the consumer maintains).
    if old is not None:
        # replay in STRICT VERSION ORDER across BOTH logs: a drop and a
        # rename interleaving on related names (drop a at v2, rename
        # c->a at v3) are order-sensitive — renaming first would create
        # a duplicate 'a' the drop then removes wholesale
        events = (
            [
                (v_, "rename", a_, b_)
                for v_, a_, b_ in mt.get("renames_log", [])
            ]
            + [(v_, "drop", n_, None) for v_, n_ in mt.get("drops_log", [])]
            # partition-column renames align the same way: the old side
            # read under the FROM version's logical name
            + [
                (v_, "rename", a_, b_)
                for v_, a_, b_ in mt.get("pcol_log", [])
            ]
        )
        for v_, kind, a_, b_ in sorted(events, key=lambda e: e[0]):
            if not (from_version < v_ <= to_v):
                continue
            if kind == "rename" and a_ in old.columns:
                old = old.withColumnRenamed(a_, b_)
            elif kind == "drop" and a_ in old.columns:
                old = old.drop(a_)
    # Align the two sides across additive evolution (NULL-fill missing
    # columns, allowMissingColumns semantics); reject type changes.
    if old is None:
        old = new.limit(0)
    if new is None:
        new = old.limit(0)
    otypes = {f.name: f.dataType for f in old.schema.fields}
    ntypes = {f.name: f.dataType for f in new.schema.fields}
    for c in sorted(set(otypes) & set(ntypes)):
        ot, nt = otypes[c].simpleString(), ntypes[c].simpleString()
        if ot != nt:
            # an in-range WIDENING (int->bigint, float->double) diffs
            # under the wider type — the cast is value-independent, so
            # an untouched row still compares equal across it
            p = _promoted(ot, nt)
            if p is None:
                raise ValueError(
                    f"column {c!r} of {table} changed type between "
                    f"v{from_version} and v{to_v} ({ot} vs {nt}); "
                    "row-level diff over a type change is ambiguous — "
                    "snapshot evolution is additive-only (plus safe "
                    "widening)"
                )
            old = old.withColumn(c, F.col(c).cast(p))
            new = new.withColumn(c, F.col(c).cast(p))
    otypes = {f.name: f.dataType for f in old.schema.fields}
    ntypes = {f.name: f.dataType for f in new.schema.fields}
    all_cols = list(old.columns) + [c for c in new.columns if c not in otypes]
    old = old.select(
        *[F.col(c) if c in otypes else F.lit(None).cast(ntypes[c]).alias(c)
          for c in all_cols]
    )
    new = new.select(
        *[F.col(c) if c in ntypes else F.lit(None).cast(otypes[c]).alias(c)
          for c in all_cols]
    )
    missing = [k for k in keys if k not in all_cols]
    if missing:
        raise ValueError(f"key column(s) {missing} not in {table}")
    ig = set(ignore_cols or ())
    nonkey = [c for c in all_cols if c not in keys]
    cmp_cols = [c for c in nonkey if c not in ig]

    o = old.select(
        *keys,
        F.struct(*[F.col(c) for c in nonkey]).alias("_old"),
        F.struct(*[F.col(c) for c in cmp_cols]).alias("_ocmp"),
    )
    n = new.select(
        *keys,
        F.struct(*[F.col(c) for c in nonkey]).alias("_new"),
        F.struct(*[F.col(c) for c in cmp_cols]).alias("_ncmp"),
    )
    j = o.join(n, keys, "full_outer")
    changes = (
        F.when(
            F.col("_old").isNull(),
            F.array(F.struct(F.col("_new").alias("img"),
                             F.lit("insert").alias("ct"))),
        )
        .when(
            F.col("_new").isNull(),
            F.array(F.struct(F.col("_old").alias("img"),
                             F.lit("delete").alias("ct"))),
        )
        .when(
            ~F.col("_ocmp").eqNullSafe(F.col("_ncmp")),
            F.array(
                F.struct(F.col("_old").alias("img"),
                         F.lit("update_preimage").alias("ct")),
                F.struct(F.col("_new").alias("img"),
                         F.lit("update_postimage").alias("ct")),
            ),
        )
        # unchanged keys: NULL array — explode (not explode_outer)
        # produces no row for them, so no empty-array type plumbing
        .otherwise(F.lit(None))
    )
    exploded = j.select(*keys, F.explode(changes).alias("_chg"))
    return exploded.select(
        *keys,
        *[F.col(f"_chg.img.{c}").alias(c) for c in nonkey],
        F.col("_chg.ct").alias("_change_type"),
    )


def snapshot_rollback(
    spark: SparkSession, table: str, version: int, branch: str | None = None
) -> int:
    """Commit a NEW snapshot whose content is an old version's (the
    Iceberg rollback shape: history moves forward, files are reused).
    Rolling back to an EMPTY state (v0) is refused: an empty committed
    snapshot poisons every later read and merge — the same hazard the
    empty-commit no-ops guard against on the write path. ``branch``
    rolls the BRANCH back (to one of its own versions or shared
    pre-fork history) — main is untouched."""
    manifest = _load_manifest(spark, table, version, branch=branch)
    if not manifest["partitions"]:
        raise ValueError(
            f"refusing rollback to empty snapshot v{version} of {table}: "
            "an empty committed snapshot is unreadable; drop or rebuild "
            "the table instead"
        )
    read_v = current_version(spark, table, branch=branch)
    latest = _load_manifest(spark, table, read_v, branch=branch)
    return _commit(
        spark,
        table,
        f"rollback(v{version})",
        manifest["partitions"],
        replaced=set(latest["partitions"]),
        read_version=read_v,
        # restored dirs re-enter with the stats + per-commit schemas the
        # target version recorded for them — without this, a dir that a
        # later overwrite replaced comes back zone-map-blind (skip_where
        # reads it forever) and its commit loses multi-path scan grouping
        restore=manifest,
        # the schema UNION likewise reverts to the target's: the live
        # content IS the target's, and inheriting the latest union wedges
        # writes after rolling back across an overwrite_all type change
        # (the reset union would reject every append of the restored
        # type). None (pre-upgrade target) keeps inheriting — the
        # read-time gate backstops those tables.
        dschema=manifest.get("dschema"),
        branch=branch,
    )


def _evolution_preamble(
    spark: SparkSession, table: str, col: str, op: str
) -> tuple[dict, dict, set, int]:
    """Shared validation for rename/drop: a committed table with a
    recorded schema union holding ``col`` as a DATA column (partition
    columns are path-encoded — renaming them is a physical layout
    change, the documented overwrite_all escape hatch)."""
    committed = current_version(spark, table)
    if not committed:
        raise ValueError(f"snapshot table {table} is empty/uninitialized")
    manifest = _load_manifest(spark, table, committed, committed=committed)
    dschema = dict(manifest.get("dschema", {}))
    if not dschema:
        raise ValueError(
            f"{table} predates the recorded schema union (no dschema in "
            f"the manifest) — {op} needs the authoritative column list; "
            "append once with current code to record it, then retry"
        )
    if col in _manifest_pcols(manifest["partitions"]):
        raise ValueError(
            f"column {col!r} of {table} is a PARTITION column — its "
            f"values are path-encoded, so {op} is a physical relayout: "
            "use snapshot_overwrite_all/snapshot_rewrite with the new "
            "layout"
        )
    if col not in dschema:
        raise ValueError(
            f"column {col!r} not in {table}'s schema "
            f"({sorted(dschema)})"
        )
    for de in manifest.get("deletes", ()) or ():
        if col in de["cols"]:
            raise ValueError(
                f"column {col!r} of {table} is a key of the live "
                f"merge-on-read delete file {de['file']} — its recorded "
                f"key names would go stale under {op}; compact first "
                "(snapshot_rewrite folds delete files), then retry"
            )
    for s in manifest.get("pspec", ()) or ():
        if col == s[3]:
            raise ValueError(
                f"column {col!r} of {table} is the SOURCE of partition "
                f"transform {s[1]}({col}) — hidden partitioning pins it; "
                "respec via snapshot_overwrite_all first"
            )
    live_commits = {
        d.split("/")[1]
        for dirs in manifest["partitions"].values()
        for d in dirs
    }
    return manifest, dschema, live_commits, committed


def snapshot_respec(
    spark: SparkSession, table: str, partition_by: list[str]
) -> int:
    """Change the table's PARTITION SPEC as a METADATA-ONLY commit —
    Iceberg partition-spec evolution (round 13, completing VERDICT r12
    Next #5's second clause): future writes land under the NEW
    transforms, existing commits keep the spec recorded in their own
    manifest files (their dirs keep pruning under it — physical
    transform names are injective in (transform, arg, source), so the
    union can never mis-prune), reads are unchanged (all hidden
    columns stay hidden), and the merge-on-read delete works straight
    across the boundary. COPY-ON-WRITE rewrites (delete_where / merge)
    refuse on a mixed-spec table until :func:`snapshot_rewrite` under
    the current spec unifies the layout — the half-migration a partial
    rewrite would create is exactly the ambiguity Iceberg's own
    rewrite recommendation exists for. At 100 TB this is the point:
    changing a table's partition granularity costs ONE metadata commit
    plus an optional background rewrite, never an in-place migration."""
    committed = current_version(spark, table)
    if not committed:
        raise ValueError(
            f"snapshot table {table} is empty/uninitialized — the first "
            "write sets the spec directly"
        )
    specs, phys = _parse_partition_by(partition_by or [])
    manifest = _load_manifest(spark, table, committed, committed=committed)
    dschema = manifest.get("dschema", {})
    for _name, _tf, _arg, src in specs:
        if dschema and src not in dschema:
            raise ValueError(
                f"partition transform source column {src!r} not in "
                f"{table}'s schema ({sorted(dschema)})"
            )
    norm = [list(s) for s in specs]
    if norm == [list(s) for s in (manifest.get("pspec") or [])]:
        return committed  # no-op: same spec
    return _commit(
        spark,
        table,
        f"respec({','.join(partition_by or [])})",
        {},
        pspec=norm,
        read_version=committed,
        # identity partition names in the new spec are not validated
        # against live pkeys — future writes establish them; the spec
        # commit itself is metadata only
    )


def _rename_partition_column(
    spark: SparkSession,
    table: str,
    manifest: dict,
    committed: int,
    old: str,
    new: str,
) -> int:
    """The partition-column branch of :func:`snapshot_rename_column`:
    validate collisions against this version's full name space (data
    columns, other partition columns' logical AND physical names), then
    commit the metadata-only ``pcol_log`` entry."""
    if new == old:
        raise ValueError("rename to the same name is a no-op")
    if not new or not isinstance(new, str):
        raise ValueError(f"bad new column name {new!r}")
    pmap = _pcol_map(manifest)
    (phys,) = [p for p, log in pmap.items() if log == old]
    if any(phys == s[0] for s in manifest.get("pspec", ()) or ()):
        raise ValueError(
            f"{old!r} is a HIDDEN partition-transform column of {table} "
            "— it is the writer's layout detail, not a user column; "
            "rename its source or respec via snapshot_overwrite_all"
        )
    if new in manifest.get("dschema", {}):
        raise ValueError(
            f"column {new!r} already exists in {table} as a data column; "
            "rename cannot merge two columns"
        )
    others = {p: log for p, log in pmap.items() if p != phys}
    if new in others or new in others.values():
        raise ValueError(
            f"column {new!r} collides with another partition column of "
            f"{table}"
        )
    return _commit(
        spark,
        table,
        f"rename_pcol({old}->{new})",
        {},
        pcol_entry=(old, new),
        read_version=committed,
    )


def snapshot_rename_column(
    spark: SparkSession, table: str, old: str, new: str
) -> int:
    """RENAME a data column as a METADATA-ONLY commit — no rewrite, the
    Iceberg field-mapping shape: the manifest's per-commit column maps
    (``colmaps``) record which PHYSICAL file column carries the logical
    name, the read path aliases through them, and commits written AFTER
    the rename store the new name physically (their map entry is
    identity). Works at any table size for the cost of one manifest
    write — a 100 TB table pays nothing.

    Time travel shows each version's own names (maps ride the
    manifest); appends after the rename use the new name (the old one
    is gone from the schema union and may later be re-added as a fresh
    column); the row-level change feed aligns across the rename via the
    manifest's rename log; zone-map/bloom pruning on the new name
    resolves per commit to the recorded physical name. Chained renames
    compose (a -> b -> c keeps one map entry per commit). Rolling back
    across a rename restores the old names and logs the reversal so
    diffs crossing the rollback still align.

    PARTITION columns rename too (round 13, spec-evolution groundwork):
    their values are path-encoded, so the rename is a root-level
    ``pcol_log`` fold — dir names and manifest partition keys keep the
    PHYSICAL name forever, reads alias the reconstructed column to the
    version's logical name (partition pruning pushes through the
    alias), and every write verb resolves logical -> physical before
    landing files, so old and new commits share one partition-key
    namespace. Time travel shows each version's own name; rollback
    reverses crossed renames."""
    committed0 = current_version(spark, table)
    if committed0:
        m0 = _load_manifest(spark, table, committed0, committed=committed0)
        pmap = _pcol_map(m0)
        if old in pmap.values():
            return _rename_partition_column(
                spark, table, m0, committed0, old, new
            )
    manifest, dschema, live_commits, read_v = _evolution_preamble(
        spark, table, old, "rename"
    )
    if new == old:
        raise ValueError("rename to the same name is a no-op")
    if not new or not isinstance(new, str):
        raise ValueError(f"bad new column name {new!r}")
    if new in dschema:
        raise ValueError(
            f"column {new!r} already exists in {table}; rename cannot "
            "merge two columns"
        )
    pm = _pcol_map(manifest)
    if new in pm or new in pm.values():
        raise ValueError(
            f"column {new!r} is {table}'s partition column (physical or "
            "logical name) — a data column cannot shadow it"
        )
    cm = manifest.get("colmaps", {})
    dc = manifest.get("dropcols", {})
    new_cm = {}
    for c in live_commits:
        m = dict(cm.get(c, {}))
        hit = False
        for p, log in list(m.items()):
            if log == old:
                m[p] = new
                hit = True
        # identity fallback: the commit (if it physically carries the
        # column at all) wrote it under the then-current logical name —
        # UNLESS that physical name is already claimed by an earlier
        # rename or drop in this commit (the re-added-name case: the
        # commit predates the re-add and has NO physical carrier of the
        # current `old`; clobbering the claim would silently relabel
        # the OTHER column's bytes)
        if not hit and old not in m and old not in dc.get(c, ()):
            m[old] = new
        new_cm[c] = m
    new_dschema = {
        (new if k == old else k): v for k, v in dschema.items()
    }
    return _commit(
        spark,
        table,
        f"rename({old}->{new})",
        {},
        dschema=new_dschema,
        colmaps=new_cm,
        rename_entry=(old, new),
        read_version=read_v,
    )


def snapshot_drop_column(spark: SparkSession, table: str, col: str) -> int:
    """DROP a data column as a METADATA-ONLY commit — no rewrite: the
    column leaves the schema union, every live commit's physical column
    is recorded in ``dropcols`` and projected away at read time (the
    bytes stay on disk until those commits expire — the Iceberg drop
    semantics). Prior versions still show the column (time travel
    applies each version's own maps); a LATER append may re-add the
    name as a fresh column (old commits' values stay hidden — never
    resurrected). Refuses to drop the last data column (an all-
    partition-column table is unreadable)."""
    manifest, dschema, live_commits, read_v = _evolution_preamble(
        spark, table, col, "drop"
    )
    if len(dschema) == 1:
        raise ValueError(
            f"refusing to drop {col!r}: it is the LAST data column of "
            f"{table} — drop or rebuild the table instead"
        )
    cm = manifest.get("colmaps", {})
    dc = manifest.get("dropcols", {})
    new_cm = {}
    new_dc = {}
    for c in live_commits:
        m = dict(cm.get(c, {}))
        drops = list(dc.get(c, []))
        phys = None
        for p, log in list(m.items()):
            if log == col:
                phys = p
                del m[p]
        if phys is None:
            # identity candidate — valid only when the physical name is
            # not already claimed by a rename (it would be ANOTHER
            # column's bytes) or an earlier drop (the re-added-name
            # case: this commit has no physical carrier of the current
            # `col` and needs no entry)
            if col not in m and col not in drops:
                phys = col
        if phys is not None:
            drops.append(phys)
        new_cm[c] = m
        new_dc[c] = drops
    new_dschema = {k: v for k, v in dschema.items() if k != col}
    return _commit(
        spark,
        table,
        f"drop({col})",
        {},
        dschema=new_dschema,
        colmaps=new_cm,
        dropcols=new_dc,
        drop_entry=col,
        read_version=read_v,
    )


_TAG_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,63}$")
_TAG_REF_RE = re.compile(r"^r(\d{5})\.json$")


def _tag_dir(table: str, name: str) -> str:
    return f"{table}/{_SNAP_DIR}/tags/{name}"


def _resolve_tag(spark: SparkSession, table: str, name: str) -> int | None:
    """The version a tag points at, or None — ONE directory listing of
    the tag's own ref dir (the WAP consumer's per-poll hot path must
    not pay a read of every tag). Highest ref wins, exactly like the
    snapshot markers: a re-tag WRITES a fresh ``r<K+1>.json`` (atomic
    create — a reader never observes a missing-file window, unlike
    delete-then-rename) and then best-effort prunes older refs."""
    fs, jvm = _fs(spark, table)
    d = jvm.org.apache.hadoop.fs.Path(_tag_dir(table, name))
    if not fs.exists(d):
        return None
    best = None
    for st in fs.listStatus(d):
        m = _TAG_REF_RE.match(st.getPath().getName())
        if not m:
            continue
        if best is None or int(m.group(1)) > best[0]:
            txt = _read_text(spark, st.getPath().toString())
            if txt is not None:
                best = (int(m.group(1)), json.loads(txt)["version"])
    return None if best is None else best[1]


def snapshot_tag(
    spark: SparkSession, table: str, name: str, version: int | None = None
) -> int:
    """Name a COMMITTED snapshot version (Iceberg tag shape): a tag is a
    durable named ref — ``snapshot_read(version="name")`` resolves it,
    and :func:`snapshot_expire` RETAINS tagged versions (manifest + data
    dirs) however old they get, so a tag is also the audit/publish pin
    of the write-audit-publish pattern: land commits, validate the
    result, then move the consumer-facing tag — consumers reading by
    tag never see unaudited versions. A re-tag is an ATOMIC CREATE of
    the next numbered ref file (highest wins, the marker protocol), so
    a concurrent reader always resolves either the old or the new
    version, never a missing tag. Tagging an uncommitted/expired
    version raises (a tag must always resolve). Returns the pinned
    version."""
    if not _TAG_RE.match(name):
        raise ValueError(
            f"invalid tag name {name!r}: letters/digits/._- only (max 64, "
            "must start alphanumeric)"
        )
    committed = current_version(spark, table)
    v = committed if version is None else version
    if v < 1:
        raise ValueError(f"snapshot table {table} has no committed version")
    _load_manifest(spark, table, v, committed=committed)  # raises if gone
    fs, jvm = _fs(spark, table)
    d = jvm.org.apache.hadoop.fs.Path(_tag_dir(table, name))
    ref = 0
    if fs.exists(d):
        for st in fs.listStatus(d):
            m = _TAG_REF_RE.match(st.getPath().getName())
            if m:
                ref = max(ref, int(m.group(1)))
    _create_atomic(
        spark,
        f"{_tag_dir(table, name)}/r{ref + 1:05d}.json",
        json.dumps({"version": v}),
    )
    # best-effort prune of superseded refs (a crash here leaves extras —
    # harmless, highest wins)
    for st in fs.listStatus(d):
        m = _TAG_REF_RE.match(st.getPath().getName())
        if m and int(m.group(1)) <= ref:
            fs.delete(st.getPath(), False)
    return v


def snapshot_tags(spark: SparkSession, table: str) -> dict[str, int]:
    """All tags: ``{name: version}`` (empty when none)."""
    fs, jvm = _fs(spark, table)
    tags_dir = jvm.org.apache.hadoop.fs.Path(f"{table}/{_SNAP_DIR}/tags")
    if not fs.exists(tags_dir):
        return {}
    out: dict[str, int] = {}
    for st in fs.listStatus(tags_dir):
        if not st.isDirectory():
            continue
        name = st.getPath().getName()
        v = _resolve_tag(spark, table, name)
        if v is not None:
            out[name] = v
    return out


def snapshot_drop_tag(spark: SparkSession, table: str, name: str) -> bool:
    """Remove a tag; returns whether it existed. The next
    :func:`snapshot_expire` can then reclaim the version it pinned."""
    fs, jvm = _fs(spark, table)
    return fs.delete(jvm.org.apache.hadoop.fs.Path(_tag_dir(table, name)), True)


# ---------------------------------------------------------------------------
# Branches (Iceberg refs): named WRITABLE lineages. A tag pins; a branch
# RECEIVES commits — the missing half of write-audit-publish: land
# commits on an audit branch (invisible to main's consumers), validate,
# then fast-forward main to the branch head in one step.
# ---------------------------------------------------------------------------


def snapshot_branch(
    spark: SparkSession, table: str, name: str, from_version: int | None = None
) -> int:
    """Create a writable branch forked at ``from_version`` (default: the
    current main head). The branch starts AT the fork — reads of the
    branch see the fork snapshot until it receives commits of its own
    (``snapshot_append(..., branch=name)``), which advance ONLY the
    branch's ``ref-<name>-*`` markers: main's readers never see them
    until :func:`snapshot_fast_forward`. Pre-fork versions are SHARED
    history (resolved through main's markers); :func:`snapshot_expire`
    retains everything any live branch references. Branch commits run
    the same optimistic-commit protocol against the branch's own marker
    namespace — two writers on one branch race its CAS; a branch writer
    and a main writer never contend. Creation is itself an atomic
    create: of two racing creates, one wins and the other raises.
    Returns the fork version."""
    if not _TAG_RE.match(name):
        raise ValueError(
            f"invalid branch name {name!r}: letters/digits/._- only "
            "(max 64, must start alphanumeric)"
        )
    committed = current_version(spark, table)
    v = committed if from_version is None else from_version
    if v < 1:
        raise ValueError(f"snapshot table {table} has no committed version")
    _load_manifest(spark, table, v, committed=committed)  # raises if gone
    try:
        _create_atomic(
            spark, _branch_meta_path(table, name), json.dumps({"from_version": v})
        )
    except IOError:
        fs, jvm = _fs(spark, table)
        if fs.exists(jvm.org.apache.hadoop.fs.Path(_branch_meta_path(table, name))):
            raise ValueError(f"branch {name!r} already exists on {table}")
        raise
    return v


def snapshot_branches(spark: SparkSession, table: str) -> dict[str, dict]:
    """All branches: ``{name: {"from_version": fork, "head": head}}``."""
    fs, jvm = _fs(spark, table)
    bdir = jvm.org.apache.hadoop.fs.Path(f"{table}/{_SNAP_DIR}/branches")
    if not fs.exists(bdir):
        return {}
    out: dict[str, dict] = {}
    for st in fs.listStatus(bdir):
        fname = st.getPath().getName()
        if not fname.endswith(".json"):
            continue
        name = fname[: -len(".json")]
        meta = _branch_meta(spark, table, name)
        if meta is not None:
            out[name] = {
                "from_version": meta["from_version"],
                "head": current_version(spark, table, branch=name),
            }
    return out


def snapshot_drop_branch(spark: SparkSession, table: str, name: str) -> bool:
    """Remove a branch: its meta AND its markers (the branch's own
    commits become unreferenced; the next :func:`snapshot_expire`
    reclaims their manifests and data dirs). Returns whether the branch
    existed. Dropping after a fast-forward is safe — the published
    versions are owned by main's markers from then on."""
    fs, jvm = _fs(spark, table)
    existed = fs.delete(
        jvm.org.apache.hadoop.fs.Path(_branch_meta_path(table, name)), False
    )
    for st in fs.globStatus(
        jvm.org.apache.hadoop.fs.Path(f"{table}/{_SNAP_DIR}/ref-{name}-*")
    ) or []:
        tail = st.getPath().getName()[len(f"ref-{name}-"):]
        if tail.isdigit():
            fs.delete(st.getPath(), False)
            _RESOLVE_CACHE.pop((table, f"b:{name}:{int(tail)}"), None)
    return existed


def snapshot_fast_forward(spark: SparkSession, table: str, name: str) -> int:
    """Fast-forward MAIN to branch ``name``'s head — the publish step of
    the branch write-audit-publish workflow. Requires main to still sit
    at the branch's fork point (the branch is then a strict descendant;
    if main advanced independently the histories diverged and this
    raises :class:`SnapshotConflictError` — rebase by re-running the
    branch's operations on a fresh branch, the Iceberg rule). Publishes
    each branch version to main's marker namespace IN ORDER via the
    same CAS commits use, so every intermediate state a concurrent
    reader can observe is a complete committed snapshot (a crash
    mid-way leaves main at one of the branch's own versions — re-run to
    finish). The branch ref itself is left in place, now coincident
    with main; drop it when the audit cycle is done. Returns main's new
    head version."""
    bmeta = _branch_meta(spark, table, name)
    if bmeta is None:
        raise KeyError(f"unknown branch {name!r} on {table}")
    fork = bmeta["from_version"]
    head = current_version(spark, table, branch=name)
    main = current_version(spark, table)
    if main > fork:
        raise SnapshotConflictError(
            f"cannot fast-forward {table} to branch {name!r}: main moved "
            f"to v{main} past the fork point v{fork} — the histories "
            "diverged; re-run the branch's operations against the new "
            "main (fresh branch), then fast-forward that"
        )
    published = main
    for v in range(fork + 1, head + 1):
        basename = _resolve_manifest_file(
            spark, table, v, branch=name
        ).rsplit("/", 1)[1]
        if not _publish_cas(spark, table, v, basename):
            # an identical marker already present (a crashed earlier
            # fast-forward) is fine; anything else is a racing writer
            existing = _read_text(spark, _marker_path(table, v))
            if existing is None or existing.strip() != basename:
                raise SnapshotConflictError(
                    f"concurrent commit on {table}: v{v} was published by "
                    "another writer during the fast-forward; main and "
                    f"branch {name!r} have diverged"
                )
        published = v
    return published


def snapshot_expire(
    spark: SparkSession, table: str, keep_last: int = 2
) -> dict[str, int]:
    """Expire history: keep the last ``keep_last`` committed snapshots
    PLUS every tagged version, delete older manifests and every data
    directory no retained snapshot references (Iceberg's
    expire_snapshots + orphan cleanup, minimally).

    Returns ``{"manifests_deleted": n, "data_dirs_deleted": m}``. Time
    travel reaches only retained versions afterwards. Run from the single
    maintenance writer at a quiesce point (same contract as the other
    maintenance steps): an in-flight commit's not-yet-referenced data
    directory is indistinguishable from an orphan. Retention is computed
    from the snapshots that ACTUALLY exist (re-running with a larger
    ``keep_last`` after an aggressive expire keeps what's left, never
    chases already-deleted versions). A tag pins its version's manifest
    AND data dirs for as long as the tag lives — drop the tag to let the
    next expire reclaim them."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    history = snapshot_history(spark, table)
    if not history:
        return {"manifests_deleted": 0, "data_dirs_deleted": 0}
    existing = {s["version"] for s in history}
    keep_versions = {s["version"] for s in history[-keep_last:]} | {
        v for v in snapshot_tags(spark, table).values() if v in existing
    }
    # BRANCH retention: a live branch pins (a) its fork version on main
    # (pre-fork reads are shared history) and (b) every post-fork
    # version of its own lineage — manifests, referenced commit files,
    # data dirs, and MoR delete files — until the branch is dropped
    branches = snapshot_branches(spark, table)
    branch_versions: list[tuple[str, int]] = []
    for bname, b in branches.items():
        if b["from_version"] in existing:
            keep_versions.add(b["from_version"])
        for bv in range(b["from_version"] + 1, b["head"] + 1):
            branch_versions.append((bname, bv))
    committed = max(keep_versions)
    live_commits: set[str] = set()
    #: manifest files (c-*.json AND legacy monoliths referenced as
    #: entries) that any RETAINED root still points at — they must
    #: outlive their own version's expiry
    referenced: set[str] = set()
    #: merge-on-read delete-file dirs (uuid under {table}/deletes/) any
    #: retained root's delete entries still reference
    live_delete_dirs: set[str] = set()
    def _retain(root: dict) -> None:
        for e in _root_entries(root):
            if e.get("file"):
                referenced.add(e["file"])
        for de in root.get("deletes", ()) or ():
            live_delete_dirs.add(de["file"].split("/", 1)[1])
        m = _assemble(spark, table, root)
        for dirs in m["partitions"].values():
            for d in dirs:
                live_commits.add(d.split("/")[1])

    for v in keep_versions:
        _retain(_load_root(spark, table, v, committed=committed))
    #: branch ROOT files: protected from the phantom-manifest vacuum
    branch_root_names: set[str] = set()
    for bname, bv in branch_versions:
        branch_root_names.add(
            _resolve_manifest_file(spark, table, bv, branch=bname).rsplit("/", 1)[1]
        )
        _retain(_load_root(spark, table, bv, committed=bv, branch=bname))
    fs, jvm = _fs(spark, table)
    n_manifests = 0
    latest = max(existing)
    for s in history:
        if s["version"] not in keep_versions:
            v = s["version"]
            mf_path = _resolve_manifest_file(spark, table, v)
            if mf_path.rsplit("/", 1)[1] not in referenced:
                fs.delete(jvm.org.apache.hadoop.fs.Path(mf_path), False)
            # the version's marker goes with its manifest (it is the
            # version→file map entry); the LATEST marker is the live
            # pointer and is always retained
            if v != latest:
                fs.delete(jvm.org.apache.hadoop.fs.Path(_marker_path(table, v)), False)
            _RESOLVE_CACHE.pop((table, v), None)
            n_manifests += 1
    # vacuum phantom token manifests: a committed version's manifest is
    # exactly the file its marker names — any OTHER v<version>-<token>
    # file at a committed version is a CAS loser's leftover (an
    # in-flight attempt targets version > committed and is never
    # touched). Same for commit-manifest files: one no retained root
    # references is a CAS loser's / fail-stopped writer's orphan —
    # unless its version is still in flight, which a c-file cannot
    # signal, so they are vacuumed only here, at the maintenance
    # writer's quiesce point (the same single-writer contract that
    # makes data-dir orphan cleanup safe below).
    snap_dir = jvm.org.apache.hadoop.fs.Path(f"{table}/{_SNAP_DIR}")
    committed_names = (
        {
            _resolve_manifest_file(spark, table, v).rsplit("/", 1)[1]
            for v in keep_versions
        }
        | referenced
        | branch_root_names
    )
    for st in fs.listStatus(snap_dir):
        name = st.getPath().getName()
        mf = _MANIFEST_FILE_RE.match(name)
        if (
            mf
            and int(mf.group(1)) <= latest
            and name not in committed_names
        ):
            fs.delete(st.getPath(), False)
        elif _CFILE_RE.match(name) and name not in referenced:
            fs.delete(st.getPath(), False)
            _CFILE_CACHE.pop(f"{table}/{_SNAP_DIR}/{name}", None)
    n_dirs = 0
    data_root = jvm.org.apache.hadoop.fs.Path(f"{table}/data")
    if fs.exists(data_root):
        for st in fs.listStatus(data_root):
            name = st.getPath().getName()
            if st.isDirectory() and name not in live_commits:
                fs.delete(st.getPath(), True)
                n_dirs += 1
    # merge-on-read delete files expire with their last referencing root
    n_del = 0
    del_root = jvm.org.apache.hadoop.fs.Path(f"{table}/deletes")
    if fs.exists(del_root):
        for st in fs.listStatus(del_root):
            name = st.getPath().getName()
            if st.isDirectory() and name not in live_delete_dirs:
                fs.delete(st.getPath(), True)
                n_del += 1
    # expired versions' roots are gone — drop this table's assembled-view
    # memo entries so a later read of a reclaimed version fails cleanly
    # instead of serving a cached view of deleted state
    _drop_assembled(table)
    return {
        "manifests_deleted": n_manifests,
        "data_dirs_deleted": n_dirs,
        "delete_files_deleted": n_del,
    }


def snapshot_rewrite(
    spark: SparkSession,
    table: str,
    partition_by: list[str],
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = _BLOOM_M,
    order_by: list[str] | None = None,
    n_cluster_files: int = 8,
    branch: str | None = None,
) -> int:
    """Compaction: rewrite the live snapshot into ONE fresh commit — every
    live partition ends up with a single commit-directory entry, shrinking
    manifests that accumulated one entry per touching commit and bounding
    small files (run on the maintenance cadence, then
    :func:`snapshot_expire` reclaims the superseded directories).
    ``order_by`` additionally CLUSTERS the rewrite (range-disjoint,
    sorted files — see :func:`snapshot_overwrite_all`): compaction is
    exactly when sort-order maintenance is cheapest, since the whole
    table passes through anyway (the Iceberg rewrite-with-sort-order /
    Delta OPTIMIZE ZORDER maintenance shape).

    Routes through :func:`snapshot_overwrite_all`: the rewrite reads the
    WHOLE live snapshot, so every live manifest key must be replaced —
    per-partition overwrite would keep an unpartitioned commit's ``''``
    entry alongside the repartitioned copies of its rows, silently
    duplicating them in the new snapshot."""
    read_v = current_version(spark, table, branch=branch)
    df = snapshot_read(spark, table, version=read_v, branch=branch)
    return snapshot_overwrite_all(
        spark, table, df, partition_by, stats_cols=stats_cols,
        bloom_cols=bloom_cols, bloom_bits=bloom_bits,
        order_by=order_by, n_cluster_files=n_cluster_files,
        read_version=read_v,
        branch=branch,
    )


def is_snapshot_table(spark: SparkSession, table: str) -> bool:
    """True iff ``table`` carries snapshot metadata (``_snapshots/``)."""
    fs, jvm = _fs(spark, table)
    return fs.exists(jvm.org.apache.hadoop.fs.Path(f"{table}/{_SNAP_DIR}"))


def snapshot_overwrite_all(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    partition_by: list[str],
    meta: dict | None = None,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = _BLOOM_M,
    order_by: list[str] | None = None,
    n_cluster_files: int = 8,
    read_version: int | None = None,
    branch: str | None = None,
) -> int:
    """Replace the ENTIRE live partition set with ``df``'s content:
    partitions absent from ``df`` are dropped from the manifest (unlike
    :func:`snapshot_overwrite_partitions`, which keeps them). The
    full-table maintenance op — tombstone purges and rewrites that may
    legitimately empty a partition commit through this. ``stats_cols``
    as in :func:`snapshot_append` — a rewrite is exactly when zone maps
    should be (re)collected, since the whole table passes through.

    ``order_by`` CLUSTERS the rewrite (Iceberg sort orders / Delta
    OPTIMIZE ZORDER via a precomputed interleave column, the
    write_clustered tactic): range-repartition into ``n_cluster_files``
    slices + sort within, so each written FILE covers a narrow value
    range and every row group's parquet min/max is tight — predicate
    pushdown then skips row groups/files INSIDE a dir, the granularity
    below the manifest's per-dir zone maps. Pass a Morton key
    (``sink.interleave_bits``) as a materialized column for
    multi-dimension probes.

    Because the ENTIRE live content is replaced, the recorded schema
    union RESETS to this frame's own schema instead of merging with the
    prior union: no old commit survives, so nothing constrains the new
    types — and inheriting the stale union would wrongly reject the
    very next append of the new shape (a full overwrite is the
    documented 'rebuild the table' escape hatch for type changes)."""
    if order_by:
        df = df.repartitionByRange(
            n_cluster_files, *[F.col(c) for c in order_by]
        ).sortWithinPartitions(*order_by)
    read_v = (
        current_version(spark, table, branch=branch)
        if read_version is None
        else read_version
    )
    root0 = _load_root(spark, table, read_v, committed=read_v, branch=branch)
    # full replacement = the spec-evolution escape hatch (allow_respec)
    df, partition_by, pspec = _resolve_partitioning(
        df, root0, partition_by, allow_respec=True
    )
    if partition_by and read_v:
        df, partition_by = _to_physical(df, root0, partition_by)
    rels = _write_commit_data(df, table, partition_by)
    if not rels:
        raise ValueError(
            "snapshot_overwrite_all with an empty frame would commit an "
            "unreadable empty snapshot; drop or rebuild the table instead"
        )
    current = _load_manifest(spark, table, read_v, branch=branch)
    stats, blooms = _collect_dir_meta(
        spark, table, rels, stats_cols, bloom_cols, bloom_bits
    )
    pset = set(partition_by or [])
    return _commit(
        spark,
        table,
        "overwrite_all",
        _group_rels(rels, partition_by),
        replaced=set(current["partitions"]),
        read_version=read_v,
        branch=branch,
        pspec=pspec,
        meta=meta,
        stats=stats,
        dschema={
            f.name: f.dataType.simpleString()
            for f in df.schema.fields
            if f.name not in pset
        },
        cschema=_frame_cschema(df, partition_by),
        blooms=blooms,
    )


def snapshot_delete_where(
    spark: SparkSession,
    table: str,
    predicate,
    prune: list[tuple] | None = None,
    stats_cols: list[str] | None = None,
    meta: dict | None = None,
    prune_keys: list[tuple] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = _BLOOM_M,
    branch: str | None = None,
) -> int:
    """Delete every row matching ``predicate`` from the live snapshot as
    ONE atomic commit (op ``delete``) — the GDPR / retention / bad-batch
    primitive. SQL DELETE semantics: rows where the predicate is TRUE
    go; FALSE and NULL rows stay.

    Cost model (the 100 TB contract): only directories that MAY contain
    matching rows are read and rewritten; every other live dir is
    carried by reference, untouched. ``prune=[(col, lo, hi), ...]``
    names manifest zone-map ranges that BOUND the predicate's matches —
    e.g. ``predicate="user_id = 42", prune=[("user_id", 42, 42)]`` — so
    a keyed delete touches only the dirs whose recorded [min, max]
    intersects, exactly :func:`snapshot_read`'s ``skip_where``
    machinery. UNLIKE skip_where (where the caller re-applies the real
    filter, so a loose hint only costs I/O), a prune range that does
    NOT bound the predicate silently leaves matching rows alive in the
    skipped dirs — the caller owns that implication; omit ``prune`` to
    rewrite every candidate dir. Two cheap guards keep honest commits:
    a predicate matching nothing in the candidate dirs is a NO-OP
    returning the current version (no empty rewrite commit), and a
    delete that would empty the whole table is refused (the
    empty-snapshot rule shared with overwrite_all).

    Rewritten dirs land with the read path's column UNION (additive
    evolution NULL-backfill, like :func:`snapshot_rewrite`); untouched
    dirs keep their zone maps via the manifest carry, and the new dirs
    re-collect stats when ``stats_cols`` is given. Time travel keeps
    the pre-delete version readable until expire, and
    :func:`snapshot_row_changes` across the delete commit emits exact
    ``delete`` images for the removed rows — so incremental consumers
    and IVM views retract them without a rescan.

    ``branch`` targets a named branch (the audit-fixup shape: scrub bad
    rows on the branch before fast-forwarding main)."""
    committed = current_version(spark, table, branch=branch)
    if not committed:
        raise ValueError(f"snapshot table {table} is empty/uninitialized")
    manifest = _load_manifest(
        spark, table, committed, committed=committed, branch=branch
    )
    _refuse_mixed_specs(manifest, table, "snapshot_delete_where")
    parts = manifest["partitions"]
    all_dirs = sorted(d for dirs in parts.values() for d in dirs)
    # hidden-partition pruning first: a prune bound / key probe on a
    # transform's source column drops whole partition dirs by value
    cand_list = _pspec_prune(spark, manifest, all_dirs, prune, prune_keys)
    cand_list = _zone_prune(manifest, cand_list, prune) if prune else cand_list
    if prune_keys:
        # per-dir bloom pruning for keyed deletes (``user_id IN (...)``,
        # the GDPR shape): a dir whose bloom proves EVERY probe key
        # absent cannot hold a match — works even when the table is not
        # clustered on the key, where the zone-map prune can't help.
        # Same caller contract as ``prune``: the probes must cover the
        # predicate's matches, or skipped dirs keep their rows.
        cand_list = _bloom_prune(manifest, cand_list, prune_keys)
    cand = set(cand_list)
    if not cand:
        return committed  # stats prove no dir can hold a match
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    cand_df = _read_dirs(spark, table, sorted(cand), manifest)
    # the candidate union may LACK evolved columns every candidate dir
    # predates (prune can exclude the commits that introduced them) — a
    # predicate naming such a column must see the table's NULL
    # back-fill, not an unresolved-column error (the rows genuinely
    # have NULL there, so delete semantics keep them)
    missing = {
        c: t
        for c, t in manifest.get("dschema", {}).items()
        if c not in cand_df.columns
    }
    for c, t in missing.items():
        cand_df = cand_df.withColumn(c, F.lit(None).cast(t))
    if cand_df.filter(pred).limit(1).isEmpty():
        return committed  # nothing to delete: no-op, no commit
    # partition columns reconstruct from the manifest keys in key order
    pcols = _manifest_pcols(parts)
    survivors = cand_df.filter(~F.coalesce(pred, F.lit(False)))
    # rewritten dirs must keep the PHYSICAL partition-key namespace —
    # the candidate frame exposes the version's LOGICAL names, and
    # hidden transform columns (dropped at read) rematerialize from
    # their source columns
    for _phys, _log in _pcol_map(manifest).items():
        if _phys != _log and _log in survivors.columns:
            survivors = survivors.withColumnRenamed(_log, _phys)
    survivors = _materialize_pspec(survivors, manifest.get("pspec") or [])
    # an all-rows-deleted rewrite must write NOTHING: an empty
    # unpartitioned commit dir would be referenced by the manifest and
    # poison reads (parquet can't infer a schema from _SUCCESS alone)
    surv_empty = survivors.limit(1).isEmpty()
    untouched_exists = any(
        d not in cand for dirs in parts.values() for d in dirs
    )
    if surv_empty and not untouched_exists:
        raise ValueError(
            "snapshot_delete_where would commit an unreadable EMPTY "
            "snapshot (every live row deleted) — drop or rebuild the "
            "table instead (the snapshot_overwrite_all rule)"
        )
    rels = (
        [] if surv_empty else _write_commit_data(survivors, table, pcols or None)
    )
    grouped = _group_rels(rels, pcols or None) if rels else {}
    affected = {k for k, dirs in parts.items() if any(d in cand for d in dirs)}
    new_partitions: dict[str, list[str]] = {}
    for k in affected:
        untouched = [d for d in parts[k] if d not in cand]
        rewritten = grouped.pop(k, [])
        if untouched or rewritten:
            new_partitions[k] = untouched + rewritten
    # survivors can only land in partitions their source dirs came from;
    # anything left in `grouped` means the partition-column derivation
    # and the data disagree — fail loudly rather than duplicate rows
    if grouped:
        raise RuntimeError(
            f"delete rewrite of {table} produced rows for partitions it "
            f"never read: {sorted(grouped)} — manifest and data layouts "
            "disagree; rewrite the table with one consistent layout"
        )
    stats, blooms = _collect_dir_meta(
        spark, table, rels, stats_cols, bloom_cols, bloom_bits
    )
    return _commit(
        spark,
        table,
        "delete",
        new_partitions,
        replaced=affected,
        read_version=committed,
        meta=meta,
        stats=stats,
        cschema=_frame_cschema(survivors, pcols),
        blooms=blooms,
        # NOT partition-scoped: a delete's logical read-set includes the
        # zone-map NEGATIVE proofs over every live dir (a winner's new
        # dir could hold rows matching the predicate inside the prune
        # bounds) — rebasing could commit a "deleted" state that still
        # grows matching rows; fail-stop keeps the GDPR-delete contract
        branch=branch,
    )


def snapshot_delete_keys(
    spark: SparkSession,
    table: str,
    keys,
    on: list[str],
    meta: dict | None = None,
    branch: str | None = None,
) -> int:
    """MERGE-ON-READ delete by key — the 100 TB form of the GDPR /
    retention verb (VERDICT r12 Next #4; the Iceberg v2 equality-delete
    / Delta deletion-vector shape): instead of REWRITING every dir that
    may hold a matching row (``snapshot_delete_where``'s copy-on-write,
    which rewrites a whole dir for one row), the commit lands a small
    parquet KEY FILE plus a manifest entry naming the dirs it applies
    to. Readers anti-join the key file for exactly those dirs; commits
    AFTER the delete are never affected (a re-inserted key lives);
    compaction (:func:`snapshot_rewrite`) folds the deletes physically
    and drops the entries. Commit cost is ∝ the deleted keys, never ∝
    dirs touched.

    ``keys``: a DataFrame carrying the ``on`` columns (extra columns
    ignored), or a plain list of values / tuples. NULL keys never match
    (SQL equality) and are dropped. Semantics are exact-equality on the
    ``on`` tuple against the CURRENT effective state: rows already
    MoR-deleted don't re-match, and the entry's dir list is pruned by
    the table's zone maps + blooms up front, so the read-side anti-join
    attaches only where a match is possible.

    Contracts: a key set matching nothing is a NO-OP returning the
    current version (no entry accumulates); the change feed
    (``snapshot_row_changes``) emits EXACT delete images across the
    commit (``snapshot_diff`` counts a dir whose delete-set changed as
    removed+re-added, so the keyed state diff reads the affected dirs
    under both versions' delete sets); time travel shows pre-delete
    versions with the rows intact; renaming/dropping a column named by
    a live delete entry is refused until compaction folds the entry.
    Replacement-class under the optimistic protocol (the effective
    content of un-rewritten dirs changes): any concurrent winner
    fail-stops this commit."""
    committed = current_version(spark, table, branch=branch)
    if not committed:
        raise ValueError(f"snapshot table {table} is empty/uninitialized")
    manifest = _load_manifest(
        spark, table, committed, committed=committed, branch=branch
    )
    parts = manifest["partitions"]
    all_dirs = sorted(d for dirs in parts.values() for d in dirs)
    if isinstance(keys, DataFrame):
        missing = [k for k in on if k not in keys.columns]
        if missing:
            raise ValueError(f"key column(s) {missing} not in keys frame")
        kdf = keys.select(*on)
    else:
        rows = [
            tuple(k) if isinstance(k, (tuple, list)) else (k,) for k in keys
        ]
        if rows and len(rows[0]) != len(on):
            raise ValueError(
                f"key tuples have {len(rows[0])} values for {len(on)} "
                f"columns {on}"
            )
        if not rows:
            return committed
        kdf = spark.createDataFrame(rows, on)
    nonnull = None
    for k in on:
        c = F.col(k).isNotNull()
        nonnull = c if nonnull is None else nonnull & c
    kdf = kdf.filter(nonnull).distinct().localCheckpoint(eager=True)
    if kdf.limit(1).isEmpty():
        return committed
    tcols = set(manifest.get("dschema", {})) | set(_manifest_pcols(parts))
    bad = [k for k in on if tcols and k not in tcols]
    if bad:
        raise ValueError(f"key column(s) {bad} not in {table}")
    # dir pruning mirrors snapshot_merge_into's auto tier: zone-map
    # range bounds from one key-sized agg, then capped bloom membership
    stats_known = {c for st in manifest.get("stats", {}).values() for c in st}
    probe_cols = [k for k in on if k in stats_known]
    skip_where = []
    if probe_cols:
        aggs = []
        for c in probe_cols:
            aggs += [F.min(c).alias(f"_lo_{c}"), F.max(c).alias(f"_hi_{c}")]
        bounds = kdf.agg(*aggs).first()
        for c in probe_cols:
            lo, hi = bounds[f"_lo_{c}"], bounds[f"_hi_{c}"]
            if lo is not None and hi is not None:
                skip_where.append((c, lo, hi))
    cand_list = _pspec_prune(spark, manifest, all_dirs, skip_where, None)
    cand_list = (
        _zone_prune(manifest, cand_list, skip_where)
        if skip_where
        else cand_list
    )
    bloom_known = {c for bl in manifest.get("blooms", {}).values() for c in bl}
    pspec_srcs = {s[3] for s in manifest.get("pspec", ()) or ()}
    for c in on:
        if len(cand_list) <= 1:
            break
        if c not in bloom_known and c not in pspec_srcs:
            continue
        vals = [
            r[0]
            for r in kdf.select(c)
            .distinct()
            .limit(_MERGE_BLOOM_PROBE_CAP + 1)
            .collect()
        ]
        if len(vals) <= _MERGE_BLOOM_PROBE_CAP:
            if c in pspec_srcs:
                cand_list = _pspec_prune(
                    spark, manifest, cand_list, None, [(c, vals)]
                )
            if c in bloom_known:
                cand_list = _bloom_prune(manifest, cand_list, [(c, vals)])
    if not cand_list:
        return committed  # no dir can hold any key: provable no-op
    # actionability probe over the EFFECTIVE state (prior MoR deletes
    # applied): a key set matching nothing must not accumulate an entry
    cand_df = _read_dirs(spark, table, sorted(cand_list), manifest)
    if cand_df.join(kdf, on, "left_semi").limit(1).isEmpty():
        return committed
    del_id = uuid.uuid4().hex
    kdf.write.mode("errorifexists").parquet(f"{table}/deletes/{del_id}")
    return _commit(
        spark,
        table,
        "delete_keys",
        {},
        meta=meta,
        read_version=committed,
        delete_add={
            "file": f"deletes/{del_id}",
            "cols": list(on),
            "dirs": sorted(cand_list),
        },
        branch=branch,
    )


def snapshot_maintain(
    spark: SparkSession,
    table: str,
    partition_by: list[str],
    max_live_commits: int = 8,
    keep_last: int = 2,
    stats_cols: list[str] | None = None,
    max_live_deletes: int | None = None,
    branch: str | None = None,
) -> dict:
    """The REWRITE CADENCE as one policy call — the documented contract
    that bounds read plans and manifests for PARTITIONED tables (whose
    per-commit partition reconstruction forbids the multi-path scan
    grouping unpartitioned commits get in :func:`_read_dirs`): when the
    live snapshot references more than ``max_live_commits`` distinct
    commit directories, compact via :func:`snapshot_rewrite` (one fresh
    commit, so the next read plans ONE scan group) and reclaim
    superseded history via :func:`snapshot_expire` (``keep_last``).
    Below the threshold it is a manifest-read no-op, so it is safe —
    and intended — to call after every N appends or on every
    maintenance tick; steady-state scan count is then
    ≤ max_live_commits. Single-maintenance-writer at a quiesce point
    (the rewrite + expire contracts). Returns
    ``{"live_commits", "rewritten", "expired", "live_deletes"}``.

    ``max_live_deletes`` (round 14, VERDICT r13 Next #6) bounds the
    MERGE-ON-READ delete-entry fan-in the same way ``max_live_commits``
    bounds scan groups: every :func:`snapshot_delete_keys` commit adds
    one key-file anti-join to reads of its pruned dirs, and only a
    rewrite folds them physically. When the live root carries more than
    ``max_live_deletes`` delete entries, the rewrite fires even if the
    commit-dir count is under its own bound — so read-side anti-join
    depth is ∝ cadence, never ∝ GDPR-delete history. ``None`` (default)
    keeps the pre-round-14 behavior (deletes fold only when the commit
    bound trips).
    """
    committed = current_version(spark, table, branch=branch)
    if committed == 0:
        return {
            "live_commits": 0,
            "rewritten": False,
            "expired": {},
            "live_deletes": 0,
        }
    manifest = _load_manifest(
        spark, table, committed, committed=committed, branch=branch
    )
    live = {
        d.split("/")[1]
        for dirs in manifest["partitions"].values()
        for d in dirs
    }
    n_deletes = len(manifest.get("deletes", ()) or ())
    over_deletes = max_live_deletes is not None and n_deletes > max_live_deletes
    if len(live) <= max_live_commits and not over_deletes:
        return {
            "live_commits": len(live),
            "rewritten": False,
            "expired": {},
            "live_deletes": n_deletes,
        }
    snapshot_rewrite(spark, table, partition_by, stats_cols=stats_cols, branch=branch)
    # expire is GLOBAL (it retains every live branch's references), so
    # the same call is correct from a branch-scoped maintain tick
    expired = snapshot_expire(spark, table, keep_last=keep_last)
    return {
        "live_commits": len(live),
        "rewritten": True,
        "expired": expired,
        "live_deletes": n_deletes,
    }


def snapshot_merge_into(
    spark: SparkSession,
    table: str,
    source: DataFrame,
    on: list[str],
    when_matched: str | None = "update",
    when_not_matched: str | None = "insert",
    prune="auto",
    stats_cols: list[str] | None = None,
    meta: dict | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = _BLOOM_M,
    when_not_matched_by_source: tuple | list | None = None,
    branch: str | None = None,
) -> int:
    """MERGE a batch-sized ``source`` into the live snapshot as ONE
    atomic ``merge`` commit — the last DML verb the snapshot protocol
    was missing (append / overwrite / delete / rollback exist), the
    Delta ``MERGE INTO`` / Iceberg copy-on-write merge shape. The
    reference's CDC landing (SURVEY §2.9: latest-per-key compaction of
    the 11 CDC topics) is exactly an upsert; this is that upsert as a
    first-class table operation instead of a maintenance-stream
    internal.

    Row semantics per ``on``-keys tuple:

    * in both            -> ``when_matched``: ``"update"`` replaces the
      target row with the SOURCE image, ``"delete"`` removes it,
      ``None`` keeps the target row untouched;
    * only in ``source`` -> ``when_not_matched``: ``"insert"`` appends
      the source row, ``None`` drops it;
    * only in the target -> always kept (survivor).

    CONDITIONAL clauses (the Delta/Iceberg ``WHEN MATCHED AND <cond>``
    guard — the standard defense against out-of-order CDC upserts):
    ``when_matched`` also accepts ``("update", "s.ts > t.ts")``, or a
    LIST of such ``(verb, cond)`` clauses evaluated first-match-wins —
    ``[("delete", "s.deleted"), ("update", "s.ts > t.ts")]``. ``cond``
    is a SQL expression over ``s.<col>`` (source image) and ``t.<col>``
    (target image); a matched pair for which NO clause fires keeps the
    TARGET row untouched (never deleted). ``cond=None`` in a tuple is
    the unconditional clause (shadows any later ones).
    ``when_not_matched`` likewise accepts ``("insert", "s.score > 0")``
    — ``cond`` sees only ``s.<col>`` (there is no target image); a
    source row failing it is dropped. All conditions compile into the
    ONE single-CASE classify plan — no extra pass over the candidates.

    ``when_not_matched_by_source`` (the third Delta clause family —
    TARGET rows whose key has NO source match): ``("delete", cond)`` or
    ``"delete"`` — the full-sync shape ("the source is the complete
    current state; delete everything it no longer contains"). ``cond``
    sees only ``t.<col>``. Because every target row must be CLASSIFIED
    (not just the source keys' candidates), a by-source clause disables
    dir pruning and reads the whole live snapshot — inherently a
    full-table merge, same as Delta; don't reach for it on a keyed
    upsert path.

    NULL join keys never match (SQL equality — same as Delta): a NULL-
    keyed target row is a survivor, a NULL-keyed source row is a
    not-matched insert.

    Cost model (the 100 TB contract): only CANDIDATE directories — those
    whose manifest zone maps say they MAY hold a source key — are read
    and rewritten; every other live dir is carried by reference. With
    ``prune="auto"`` (default) the candidate set derives from the
    source's own key range: one source-sized min/max agg per key column,
    matched against the stats recorded by ``stats_cols`` at write time.
    Auto-pruning is EXACT, not a caller contract: zone-map skipping is
    conservative (dirs without stats stay candidates), and any target
    row matching a source key must live in a dir whose [min, max]
    intersects the source's key range — so a keyed upsert against a
    key-clustered table rewrites one dir, never the table. An explicit
    ``prune=[(col, lo, hi), ...]`` list skips the agg but puts the
    bound's correctness on the caller (a range that does not cover the
    source keys silently re-INSERTS matched rows — same caveat as
    ``snapshot_delete_where``); ``prune=None`` reads every live dir.

    Plan shape: ONE full-outer shuffle join between the candidate scan
    and ``source`` classifies every row in a single CASE (the
    ``snapshot_row_changes`` kernel) — survivors, updates, and inserts
    come out of one pass over the candidate dirs, never a per-verb
    branch union re-reading them.

    Contracts: ``source`` keys must be UNIQUE (checked with one
    source-sized agg; two source images for one target row is a
    nondeterministic merge). ``source`` is localCheckpoint-ed ONCE at
    entry: the dup check, prune aggs, bloom probes, key probes,
    classify join and data write all read that single materialization —
    an expensive source pipeline computes once, and a non-deterministic
    one cannot write rows its probes never saw. ``source`` must
    carry EVERY target column — missing columns would silently NULL-out
    updated rows; extra source columns are additive evolution, gated by
    the same write-time type check as ``snapshot_append`` (survivors
    NULL-backfill). Shared columns must match the target's type exactly
    (partition columns at type-FAMILY level, since their read types
    re-infer from path strings). Updates may MOVE a row across
    partitions: the old image's dir is rewritten without it and the new
    image lands in its new partition's dir in the same commit.

    A merge that matches nothing and inserts nothing is a NO-OP
    returning the current version; a delete-mode merge that would empty
    the table is refused (the empty-snapshot rule). Time travel keeps
    the pre-merge version readable, and ``snapshot_row_changes`` across
    the merge commit emits exact insert/delete/update images — IVM
    views and incremental consumers apply a merge with no rescan."""
    def _norm_clauses(spec, verbs, what):
        """Normalize a clause spec to ``[(verb, cond_sql|None), ...]``."""
        if spec is None:
            return []
        if isinstance(spec, str):
            spec = [(spec, None)]
        elif isinstance(spec, tuple):
            spec = [spec]
        out = []
        for cl in spec:
            if isinstance(cl, str):
                cl = (cl, None)
            if (
                not isinstance(cl, tuple)
                or len(cl) != 2
                or cl[0] not in verbs
                or not (cl[1] is None or isinstance(cl[1], str))
            ):
                raise ValueError(
                    f"{what} clause must be one of {sorted(verbs)}, a "
                    f"(verb, cond_sql) tuple, or a list of such tuples; "
                    f"got {cl!r}"
                )
            out.append(cl)
        return out

    matched_clauses = _norm_clauses(
        when_matched, {"update", "delete"}, "when_matched"
    )
    insert_clauses = _norm_clauses(
        when_not_matched, {"insert"}, "when_not_matched"
    )
    if len(insert_clauses) > 1:
        raise ValueError("when_not_matched takes at most one insert clause")
    bysrc_clauses = _norm_clauses(
        when_not_matched_by_source, {"delete"}, "when_not_matched_by_source"
    )
    if not matched_clauses and not insert_clauses and not bysrc_clauses:
        raise ValueError("merge with no matched AND no not-matched clause "
                         "is a no-op by construction")
    has_conds = (
        any(c is not None for _, c in matched_clauses)
        or any(c is not None for _, c in insert_clauses)
        or bool(bysrc_clauses)
    )
    if bysrc_clauses:
        # every target row must be classified: a by-source clause fires
        # on rows the source does NOT touch, so the candidate set is the
        # whole live snapshot (the Delta semantics; documented)
        prune = None
    if has_conds and ({"s", "t"} & set(on)):
        raise ValueError(
            "conditional merge clauses reference images as s.<col> / "
            "t.<col>; key columns named 's' or 't' would shadow them — "
            "rename the key columns"
        )
    committed = current_version(spark, table, branch=branch)
    if not committed:
        raise ValueError(
            f"snapshot table {table} is empty/uninitialized — bootstrap "
            "with snapshot_append, then merge"
        )
    missing_keys = [k for k in on if k not in source.columns]
    if missing_keys:
        raise ValueError(f"key column(s) {missing_keys} not in source")
    # ONE materialization feeds every downstream read of the source
    # (≈6 evaluations otherwise: dup check, prune agg, bloom collect,
    # key probes, classify join, data write) — the importance_weights
    # pattern; also removes the determinism burden from the caller
    source = source.localCheckpoint(eager=True)
    manifest = _load_manifest(
        spark, table, committed, committed=committed, branch=branch
    )
    _refuse_mixed_specs(manifest, table, "snapshot_merge_into")
    parts = manifest["partitions"]
    all_dirs = sorted(d for dirs in parts.values() for d in dirs)
    pcols = _manifest_pcols(parts)
    # reads expose LOGICAL partition-column names; files/dirs keep the
    # physical ones (_pcol_map) — classify logically, flip before write.
    # Hidden transform columns are not part of the logical surface at
    # all: exclude them here, rematerialize before the write, and hand
    # the insert-only append the SPEC strings so it re-derives them.
    pmap = _pcol_map(manifest)
    pspec_by_name = {s[0]: s for s in manifest.get("pspec") or ()}
    log_pcols = [
        pmap.get(p, p) for p in pcols if p not in pspec_by_name
    ]
    append_pb = [
        (
            f"{pspec_by_name[p][1]}({pspec_by_name[p][2]}, {pspec_by_name[p][3]})"
            if p in pspec_by_name and pspec_by_name[p][2] is not None
            else f"{pspec_by_name[p][1]}({pspec_by_name[p][3]})"
            if p in pspec_by_name
            else pmap.get(p, p)
        )
        for p in pcols
    ]

    # source key uniqueness: one source-sized agg (merge is a batch op,
    # never a hot row path) — a duplicate key means two source images
    # compete for one target row, a nondeterministic merge. NULL-keyed
    # rows are EXEMPT: they never match anything (SQL equality), each is
    # its own not-matched insert, so several of them are well-defined —
    # counting them as duplicates would wrongly refuse the merge.
    nonnull_keys = None
    for k in on:
        c = F.col(k).isNotNull()
        nonnull_keys = c if nonnull_keys is None else nonnull_keys & c
    dup = (
        source.filter(nonnull_keys)
        .groupBy(*on)
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
    )
    if not dup.isEmpty():
        raise ValueError(
            f"source has duplicate rows for merge key(s) {on} — a merge "
            "source must be unique per key (pre-compact with "
            "latest_by_key)"
        )

    if prune == "auto":
        stats_known = {
            c for st in manifest.get("stats", {}).values() for c in st
        }
        probe_cols = [k for k in on if k in stats_known]
        skip_where = []
        if probe_cols:
            aggs = []
            for c in probe_cols:
                aggs += [F.min(c).alias(f"_lo_{c}"), F.max(c).alias(f"_hi_{c}")]
            bounds = source.agg(*aggs).first()
            for c in probe_cols:
                lo, hi = bounds[f"_lo_{c}"], bounds[f"_hi_{c}"]
                if lo is not None and hi is not None:
                    skip_where.append((c, lo, hi))
        cand_list = _pspec_prune(spark, manifest, all_dirs, skip_where, None)
        cand_list = (
            _zone_prune(manifest, cand_list, skip_where)
            if skip_where
            else cand_list
        )
        # bloom tier: when the table carries blooms for a key column and
        # the source's key set is SMALL, probe membership too — this is
        # what prunes an UNCLUSTERED key (every dir's range intersects,
        # but only the dirs actually holding the keys can match). The
        # cap bounds the driver probe cost; a larger source just falls
        # back to range pruning (still exact, just coarser). The same
        # capped key set feeds the hidden-partition prune (a table
        # partitioned by bucket(key) drops every non-matching bucket
        # dir here).
        bloom_known = {
            c for bl in manifest.get("blooms", {}).values() for c in bl
        }
        pspec_srcs = {s[3] for s in manifest.get("pspec", ()) or ()}
        for c in on:
            if len(cand_list) <= 1:
                break
            if c not in bloom_known and c not in pspec_srcs:
                continue
            vals = [
                r[0]
                for r in source.select(c)
                .distinct()
                .limit(_MERGE_BLOOM_PROBE_CAP + 1)
                .collect()
            ]
            if len(vals) <= _MERGE_BLOOM_PROBE_CAP:
                nn = [v for v in vals if v is not None]
                if c in pspec_srcs:
                    cand_list = _pspec_prune(
                        spark, manifest, cand_list, None, [(c, nn)]
                    )
                if c in bloom_known:
                    cand_list = _bloom_prune(manifest, cand_list, [(c, nn)])
        cand = set(cand_list)
    elif prune is not None:
        cand = set(_zone_prune(manifest, all_dirs, prune))
    else:
        cand = set(all_dirs)

    if cand:
        cand_df = _read_dirs(spark, table, sorted(cand), manifest)
    else:
        # zone maps prove no dir can hold a source key: nothing matches,
        # the merge degenerates to pure inserts (schema from the table)
        cand_df = _read_state_side(spark, table, [], manifest)
    # candidate dirs may predate evolved columns — NULL back-fill from
    # the recorded union so images and comparisons see the table schema
    for c, t in manifest.get("dschema", {}).items():
        if c not in cand_df.columns:
            cand_df = cand_df.withColumn(c, F.lit(None).cast(t))

    all_cols = list(cand_df.columns)
    absent = [c for c in all_cols if c not in source.columns]
    if absent:
        raise ValueError(
            f"source lacks target column(s) {absent}: a merge source "
            "must carry every target column (missing ones would "
            "silently NULL updated rows) — select them from the target "
            "or pass explicit NULL casts"
        )
    ttypes = {f.name: f.dataType for f in cand_df.schema.fields}
    stypes = {f.name: f.dataType for f in source.schema.fields}
    aligned = source
    for c in all_cols:
        st, tt = stypes[c].simpleString(), ttypes[c].simpleString()
        if st == tt:
            continue
        if c in log_pcols and _type_family(st) == _type_family(tt):
            # partition types re-infer from path strings (int for p=3
            # beside a bigint source column) — same-family casts are
            # deterministic, exactly the read gate's rule
            aligned = aligned.withColumn(c, F.col(c).cast(ttypes[c]))
        else:
            raise ValueError(
                f"source column {c!r} type {st} does not match the "
                f"table's {tt}; merge never casts data columns — cast "
                "the source explicitly"
            )
    extra_cols = [c for c in aligned.columns if c not in all_cols]
    out_cols = all_cols + extra_cols

    insert_cond = insert_clauses[0][1] if insert_clauses else None
    if not matched_clauses and not bysrc_clauses:
        # insert-only merge: matched target rows stay BY REFERENCE — no
        # candidate dir is rewritten, the commit is a pure append of the
        # not-matched source rows (the cheapest verb wins; and an
        # append-class commit, so it REBASES under a concurrent writer)
        inserts = aligned.join(
            cand_df.select(*on), on, "left_anti"
        ).select(*out_cols)
        if insert_cond is not None:
            # pack the row away FIRST so the `s` alias the condition
            # reads can never shadow (or be shadowed by) a data column
            # that is itself named 's'
            inserts = (
                inserts.select(
                    F.struct(*[F.col(c) for c in out_cols]).alias("s")
                )
                .filter(F.coalesce(F.expr(insert_cond), F.lit(False)))
                .select(*[F.col(f"s.{c}").alias(c) for c in out_cols])
            )
        if inserts.limit(1).isEmpty():
            return committed
        return snapshot_append(
            spark, table, inserts, append_pb or None, meta=meta,
            stats_cols=stats_cols, bloom_cols=bloom_cols,
            bloom_bits=bloom_bits,
        )

    def _cond_expr(cond):
        # NULL condition results keep SQL semantics: a clause whose
        # guard evaluates to NULL does NOT fire (coalesce to FALSE)
        return (
            F.lit(True)
            if cond is None
            else F.coalesce(F.expr(cond), F.lit(False))
        )

    tgt_keys = cand_df.select(*on)
    src_keys = aligned.select(*on)
    tgt = cand_df.select(
        *on, F.struct(*[F.col(c) for c in all_cols]).alias("_tgt")
    )
    src = aligned.select(
        *on, F.struct(*[F.col(c) for c in out_cols]).alias("_src")
    )
    j = tgt.join(src, on, "full_outer")
    if has_conds:
        # clause conditions reference the images as s.<col> / t.<col>
        j = j.withColumn("t", F.col("_tgt")).withColumn("s", F.col("_src"))

    # no-op probes: without conditions they run on KEY-ONLY projections
    # (narrow column-pruned scans). With conditions, a matched pair no
    # clause fires for is a plain survivor, so the probe must ask "does
    # any clause FIRE anywhere" — a limit-1 filter over the same
    # classify join (executed until first hit, not materialized).
    any_clause = None
    for _, cond in matched_clauses:
        e = _cond_expr(cond)
        any_clause = e if any_clause is None else (any_clause | e)
    if has_conds and matched_clauses:
        matched_exists = not (
            j.filter(F.col("_tgt").isNotNull() & F.col("_src").isNotNull())
            .filter(any_clause)
            .limit(1)
            .isEmpty()
        )
    else:
        matched_exists = bool(matched_clauses) and not tgt_keys.join(
            src_keys, on, "left_semi"
        ).limit(1).isEmpty()
    inserts_exist = False
    if insert_clauses:
        if insert_cond is not None:
            # pack-then-filter (not withColumn): a data column named 's'
            # must not collide with the condition's image alias
            ins_probe = (
                aligned.join(tgt_keys, on, "left_anti")
                .select(F.struct(*[F.col(c) for c in out_cols]).alias("s"))
                .filter(_cond_expr(insert_cond))
            )
        else:
            ins_probe = src_keys.join(tgt_keys, on, "left_anti")
        inserts_exist = not ins_probe.limit(1).isEmpty()
    # by-source actionability: any unmatched TARGET row a clause fires
    # on (same limit-1 classify-plan probe as the conditional matched one)
    bysrc_exists = False
    if bysrc_clauses:
        any_bysrc = None
        for _, cond in bysrc_clauses:
            e = _cond_expr(cond)
            any_bysrc = e if any_bysrc is None else (any_bysrc | e)
        bysrc_exists = not (
            j.filter(F.col("_tgt").isNotNull() & F.col("_src").isNull())
            .filter(any_bysrc)
            .limit(1)
            .isEmpty()
        )
    if not (matched_exists or inserts_exist or bysrc_exists):
        return committed

    survivor_img = F.struct(
        *[F.col(f"_tgt.{c}").alias(c) for c in all_cols],
        *[F.lit(None).cast(stypes[c]).alias(c) for c in extra_cols],
    )
    # by-source branch: unmatched target rows run THEIR clause chain
    # (first-match-wins, delete verb only); none firing keeps the row
    unmatched_tgt_img = survivor_img
    for verb, cond in reversed(bysrc_clauses):
        unmatched_tgt_img = F.when(_cond_expr(cond), F.lit(None)).otherwise(
            unmatched_tgt_img
        )
    # matched branch: clauses first-match-wins; none firing — or no
    # matched clause at all (reachable when only a by-source clause ran
    # the kernel) — keeps the TARGET image, never an implicit delete.
    # The unconditional single verb degenerates to the old expression.
    matched_img = survivor_img
    for verb, cond in reversed(matched_clauses):
        action = F.col("_src") if verb == "update" else F.lit(None)
        matched_img = F.when(_cond_expr(cond), action).otherwise(matched_img)
    if insert_clauses:
        insert_img = (
            F.when(_cond_expr(insert_cond), F.col("_src"))
            if insert_cond is not None
            else F.col("_src")
        )
    else:
        insert_img = F.lit(None)
    img = (
        F.when(F.col("_src").isNull(), unmatched_tgt_img)
        .when(F.col("_tgt").isNull(), insert_img)
        .otherwise(matched_img)
    )
    combined = (
        j.select(img.alias("_img"))
        .filter(F.col("_img").isNotNull())
        .select(*[F.col(f"_img.{c}").alias(c) for c in out_cols])
    )
    # column order convention: data columns first, partition keys last
    if pcols:
        combined = combined.select(
            *[c for c in out_cols if c not in log_pcols],
            *[c for c in log_pcols if c in out_cols],
        )
        # flip logical -> physical partition names for the dir layout,
        # and rematerialize the hidden transform columns (dropped at
        # read) from their sources
        for _phys, _log in pmap.items():
            if _phys != _log and _log in combined.columns:
                combined = combined.withColumnRenamed(_log, _phys)
        combined = _materialize_pspec(
            combined, manifest.get("pspec") or []
        )

    untouched_exists = any(
        d not in cand for dirs in parts.values() for d in dirs
    )
    # combined emptiness derives from the narrow probes: update-mode
    # output is non-empty whenever the no-op probe passed (matched rows
    # stay as updates, or inserts exist); delete-mode output is empty
    # iff no candidate row survives AND nothing inserts — a key-only
    # anti join, not a full-width execution. Conditional clauses break
    # both derivations (an un-fired clause keeps its row), so they pay
    # one limit-1 execution of the classify plan instead.
    if has_conds:
        combined_empty = combined.limit(1).isEmpty()
    elif matched_clauses and matched_clauses[0][0] == "update":
        combined_empty = False
    else:
        surv_exists = not tgt_keys.join(
            src_keys, on, "left_anti"
        ).limit(1).isEmpty()
        combined_empty = (not surv_exists) and (not inserts_exist)
    dschema = None
    if combined_empty:
        if not untouched_exists:
            raise ValueError(
                "snapshot_merge_into would commit an unreadable EMPTY "
                "snapshot (every live row deleted, nothing inserted) — "
                "drop or rebuild the table instead (the "
                "snapshot_overwrite_all rule)"
            )
        rels = []
    else:
        dschema = _merged_commit_schema(spark, table, combined, pcols or None)
        rels = _write_commit_data(combined, table, pcols or None)
    grouped = _group_rels(rels, pcols or None) if rels else {}
    affected = {k for k, dirs in parts.items() if any(d in cand for d in dirs)}
    new_partitions: dict[str, list[str]] = {}
    for k in affected:
        untouched = [d for d in parts[k] if d not in cand]
        rewritten = grouped.pop(k, [])
        if untouched or rewritten:
            new_partitions[k] = untouched + rewritten
    # leftovers are legal here (unlike delete_where): inserts and
    # partition-moving updates land in partitions the merge never read —
    # they APPEND to untouched partitions / create new ones
    for k, dirs in grouped.items():
        new_partitions.setdefault(k, []).extend(dirs)
    stats, blooms = _collect_dir_meta(
        spark, table, rels, stats_cols, bloom_cols, bloom_bits
    )
    return _commit(
        spark,
        table,
        "merge",
        new_partitions,
        replaced=affected,
        read_version=committed,
        meta=meta,
        stats=stats,
        dschema=dschema,
        cschema=_frame_cschema(combined, pcols or None),
        blooms=blooms,
        # NOT partition-scoped: the merge's logical read-set includes
        # the auto-prune's negative proofs over every dir (a winner's
        # append of a matching key to a non-candidate partition would
        # make a rebased insert a DUPLICATE key) and, for by-source
        # clauses, partition keys that did not exist at read time —
        # fail-stop preserves the one-image-per-key upsert contract
        branch=branch,
    )


def snapshot_describe(spark: SparkSession, table: str) -> dict:
    """One-call table inspection (the DESCRIBE TABLE / DESCRIBE DETAIL
    shape): current version + commit instant, op history length, live
    partition/dir/commit counts, the recorded schema union, tags, meta,
    and which columns carry zone maps / blooms over how many live dirs —
    the operational numbers a maintenance decision needs (is the rewrite
    cadence due? are the skip structures actually covering the table?).
    Costs two metadata listings + one manifest read; never touches data.
    Returns ``{"version": 0, "exists": False}`` for an uninitialized
    path."""
    committed = current_version(spark, table)
    if committed == 0:
        return {"version": 0, "exists": False}
    manifest = _load_manifest(spark, table, committed, committed=committed)
    parts = manifest["partitions"]
    dirs = [d for ds in parts.values() for d in ds]
    history = snapshot_history(spark, table)
    stats_cov: dict[str, int] = {}
    for st in manifest.get("stats", {}).values():
        for c in st:
            stats_cov[c] = stats_cov.get(c, 0) + 1
    bloom_cov: dict[str, int] = {}
    for bl in manifest.get("blooms", {}).values():
        for c in bl:
            bloom_cov[c] = bloom_cov.get(c, 0) + 1
    return {
        "version": committed,
        "exists": True,
        "committed_at": manifest.get("committed_at"),
        "op": manifest.get("op"),
        "n_snapshots": len(history),
        "n_partitions": len(parts),
        "n_live_dirs": len(dirs),
        "n_live_commits": len({d.split("/")[1] for d in dirs}),
        "partition_columns": [
            _pcol_map(manifest).get(p, p) for p in _manifest_pcols(parts)
        ],
        "schema": dict(manifest.get("dschema", {})),
        "meta": dict(manifest.get("meta", {})),
        "tags": snapshot_tags(spark, table),
        "zone_map_cols": stats_cov,
        "bloom_cols": bloom_cov,
        "n_delete_files": len(manifest.get("deletes", ()) or ()),
        "partition_spec": [
            (
                f"{s[1]}({s[2]}, {s[3]})"
                if s[2] is not None
                else f"{s[1]}({s[3]})"
            )
            for s in manifest.get("pspec", ()) or ()
        ],
    }
