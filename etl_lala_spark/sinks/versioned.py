"""Versioned parquet tables: snapshot isolation, time travel, rollback,
vacuum — the transaction-log layer (a minimal Delta/Iceberg-shaped design,
built from public concepts: an append-only manifest log naming immutable
data directories) that upgrades the reference's overwrite-in-place loading
(src/datasus/datasus.service.ts:15-39 deletes a competência then re-inserts
it — a reader racing that window sees half a table) to atomic commits.

Layout::

    table/
      _versions/000001.json   # manifest: op, data dirs, row count, schema
      _versions/000002.json
      d000001/part-*.parquet  # immutable data directory per commit
      d000002/part-*.parquet

Every commit writes a NEW data directory plus a NEW manifest (tmp + atomic
rename); nothing is ever modified in place. Readers resolve a manifest
(latest or pinned ``version=``) and read exactly the directories it names —
a reader holding version N is unaffected by any later commit (snapshot
isolation), and time travel is just reading an older manifest. Rollback is
an O(1) metadata commit that re-points at a previous version's directories.
Vacuum deletes data directories no retained manifest references.

Scale: manifests are O(commits) tiny JSON files and data directories are
immutable parquet — at 100 TB the same design holds (the manifest read is a
driver-side metadata fetch; executors only ever see concrete file paths, so
partition pruning / pushdown work unchanged). Concurrent writers are safe:
the manifest publish is a hard-link CAS on the version id (fsync'd temp +
``os.link`` — atomic, EEXIST on conflict), and a loser re-reads the log and
retries without recomputing its data. On object stores, swap the link CAS
for the store's conditional-put (If-None-Match) — same protocol.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

_VERS = "_versions"


class ConcurrentCommitError(RuntimeError):
    """The table advanced past the snapshot a read-modify-write commit was
    derived from. Raised by ``write_version(expected_base=...)`` so callers
    (``merge_version``/``compact_version``) re-read and re-derive instead of
    publishing a stale snapshot that silently drops a rival's rows."""

# Writer-private names must be unique per CALL, not just per process: a
# driver running parallel jobs (threads share the pid) would otherwise
# interleave two writers' staging dirs / manifest temps and publish torn
# state. pid + a process-wide counter is unique across both axes.
_UNIQ = itertools.count()


def _private_suffix() -> str:
    return f"{os.getpid()}.{next(_UNIQ)}"


def _versions_dir(table_path: str) -> str:
    return os.path.join(table_path, _VERS)


def _manifest_path(table_path: str, version: int) -> str:
    return os.path.join(_versions_dir(table_path), f"{version:06d}.json")


def table_versions(table_path: str) -> list[dict]:
    """All committed manifests, oldest first. [] for a missing table."""
    vdir = _versions_dir(table_path)
    if not os.path.isdir(vdir):
        return []
    out = []
    # Numeric order, not lexicographic: past v999999 the zero-padded name
    # grows a digit and '1000000.json' would sort BEFORE '999999.json',
    # freezing the latest version and wedging every writer's CAS forever.
    names = [
        n for n in os.listdir(vdir)
        if n.endswith(".json") and n[:-5].isdigit()
    ]
    for name in sorted(names, key=lambda n: int(n[:-5])):
        try:
            with open(os.path.join(vdir, name)) as fh:
                out.append(json.load(fh))
        except (OSError, ValueError):
            continue  # torn write of an in-flight manifest: not committed
    return out


def _commit(table_path: str, manifest: dict) -> int:
    """Atomically publish a manifest. The hard-link create below IS a
    compare-and-swap on the version id: two writers racing to commit the
    same version see exactly one winner and one ``FileExistsError`` — the
    loser re-reads the log and retries against the new latest
    (``write_version``/``rollback`` do this automatically). The same
    optimistic-concurrency protocol the real table formats run on their
    log, minus multi-object transactions."""
    vdir = _versions_dir(table_path)
    os.makedirs(vdir, exist_ok=True)
    path = _manifest_path(table_path, manifest["version"])
    # Fully write + fsync a private temp, then hard-link it to the
    # committed name: link(2) is atomic and fails with EEXIST if the
    # version was taken, so the committed name can never hold torn JSON
    # (crash before link = no commit; after = complete commit).
    tmp = f"{path}.{_private_suffix()}.tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, path)
    except FileExistsError:
        # A manifest already holds this id. If it parses, a rival committed
        # first — re-raise so the caller retries against the new latest. If
        # it is TORN (a crashed writer's partial file), table_versions()
        # ignores it, so no retry could ever advance past this id: repair it.
        try:
            with open(path) as fh:
                json.load(fh)
        except (OSError, ValueError):
            # Repair must itself be a CAS, not check-then-rename: two
            # repairers racing the same torn id would both "win" a plain
            # rename and the second would silently overwrite the first's
            # committed manifest. Claiming the torn file by renaming it
            # ASIDE is atomic — exactly one repairer's rename succeeds; the
            # loser (ENOENT) re-raises as a lost CAS and retries against
            # whatever state the winner publishes.
            aside = f"{tmp}.torn"
            try:
                os.rename(path, aside)
            except FileNotFoundError:
                os.remove(tmp)
                raise FileExistsError(path) from None
            try:
                os.link(tmp, path)
            except FileExistsError:
                # A third writer linked a (valid) manifest in the gap
                # between our rename-aside and link — our repair lost.
                os.remove(tmp)
                os.remove(aside)
                raise
            os.remove(tmp)
            os.remove(aside)
            return manifest["version"]
        os.remove(tmp)
        raise
    os.remove(tmp)
    return manifest["version"]


_ORPHAN_GRACE_S = 30.0
# beside-table staging dirs live much longer legitimately (the parquet
# write + stats scan happen BEFORE any claim) — sweep only ancient ones
_STAGING_GRACE_S = 3600.0


def _stream_high_water(manifests: list[dict]) -> int:
    """Highest stream batch id any manifest has ever carried (manifests
    propagate it forward as a monotone watermark), -1 if none."""
    return max((m.get("stream_batch_id", -1) for m in manifests), default=-1)


def _reclaim_orphan_dir(table_path: str, ddir: str, version: int) -> bool:
    """True if ``ddir`` was a crashed writer's orphaned claim and was
    deleted. A dir is an orphan only when NO committed manifest references
    it, no manifest holds ``version`` (the claimant never committed), and
    the claim timestamp is stale — a live claimant touches the dir at claim
    time and commits within milliseconds (the critical section is pure
    metadata), so an unreferenced claim older than the grace window is a
    crash, not a slow writer. Without this, one crash between claim and
    commit would wedge the data-dir name and make the table permanently
    unwritable."""
    try:
        mtime = os.stat(ddir).st_mtime
    except OSError:
        return False  # vanished: the claimant committed or a rival reclaimed
    if time.time() - mtime < _ORPHAN_GRACE_S:
        return False
    name = os.path.basename(ddir)
    for m in table_versions(table_path):
        if name in m["dirs"] or m["version"] == version:
            return False
    # Claim the orphan atomically by renaming it aside before deleting, so
    # two reclaimers (or a reclaimer and a fresh claimant of the name)
    # cannot interleave on a half-deleted directory.
    aside = f"{ddir}.orphan.{_private_suffix()}"
    try:
        os.rename(ddir, aside)
    except OSError:
        return False
    shutil.rmtree(aside, ignore_errors=True)
    return True


def write_version(
    df: DataFrame, table_path: str, mode: str = "overwrite",
    extra: dict | None = None, expected_base: int | None = None,
    partition_col: str | None = None,
) -> int:
    """Commit ``df`` as a new table version.

    ``mode="overwrite"``: the new version consists of this commit's data
    only. ``mode="append"``: the new version = previous version's
    directories + this commit's directory (no data rewrite — append is a
    metadata union of immutable dirs). ``extra``: additional manifest
    fields published atomically with the commit (reserved core keys win on
    collision) — e.g. the streaming batch id that makes
    ``stream_versioned_append``'s replay guard transactional.
    ``expected_base``: the latest version this ``df`` was DERIVED from —
    if the table has advanced past it (a rival committed between the read
    and this commit), raise ``ConcurrentCommitError`` instead of blindly
    retrying the CAS with a stale snapshot that would drop the rival's
    rows. Read-modify-write callers (merge/compact) must pass it.
    ``partition_col``: track this commit's distinct partition values in
    the manifest (``parts``/``dir_rows``).
    Returns the committed version id.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"write_version mode must be overwrite/append, got {mode}")
    staging, n_new, vals = _stage(df, table_path, partition_col)

    def build(prev: list[dict], version: int, ddir_name: str) -> dict:
        if mode == "append" and prev:
            m_prev = prev[-1]
            pcol_prev = m_prev.get("partition_col")
            if partition_col and pcol_prev and partition_col != pcol_prev:
                raise ValueError(
                    f"append partition_col {partition_col} != table's {pcol_prev}"
                )
            dirs = list(m_prev["dirs"]) + [ddir_name]
            n_rows = m_prev["n_rows"] + n_new
            parts = dict(m_prev.get("parts") or {d: None for d in m_prev["dirs"]})
            dir_rows = dict(m_prev.get("dir_rows") or {})
            pcol = pcol_prev or partition_col
        else:
            dirs = [ddir_name]
            n_rows = n_new
            parts = {}
            dir_rows = {}
            pcol = partition_col
        # Reserved keys win on collision for EVERY commit shape: the
        # partition trio must not survive from `extra` on an untracked
        # commit, or the table would read as tracked with bogus parts.
        reserved = (
            "version", "op", "dirs", "n_rows", "schema", "ts",
            "partition_col", "parts", "dir_rows",
        )
        manifest = {
            **{k: v for k, v in (extra or {}).items() if k not in reserved},
            "version": version,
            "op": mode,
            "dirs": dirs,
            "n_rows": n_rows,
            "schema": df.schema.simpleString(),
            "ts": time.time(),
        }
        if pcol:
            parts[ddir_name] = vals
            dir_rows[ddir_name] = n_new
            manifest.update(partition_col=pcol, parts=parts, dir_rows=dir_rows)
        return manifest

    return _publish(table_path, staging, expected_base, build)


def _stage(
    df: DataFrame, table_path: str, partition_col: str | None = None
) -> tuple[str, int, list[str] | None]:
    """Write ``df`` ONCE into a writer-private staging dir beside the table
    and pre-compute its row count (and, when partition-tracked, its sorted
    distinct partition values as strings). Data first, commit second: the
    optimistic-concurrency loop in ``_publish`` only renames the staging
    dir and retries the manifest CAS, so a lost race never recomputes the
    DataFrame. Staging lives BESIDE the table directory (not inside it) so
    an in-flight write can never leak into a naive scan of the table dir,
    and the Spark jobs here run BEFORE any claim — the claim-to-commit
    critical section stays a pure-metadata window (milliseconds)."""
    os.makedirs(table_path, exist_ok=True)
    staging = f"{table_path.rstrip('/')}.staging.{_private_suffix()}"
    shutil.rmtree(staging, ignore_errors=True)
    df.write.mode("overwrite").parquet(staging)
    if partition_col:
        from pyspark.sql import functions as F

        staged = df.sparkSession.read.parquet(staging)

        # one scan for both facts (count + distinct partition values) —
        # collect_set drops nulls, sort_array fixes the order
        row = staged.agg(
            F.count(F.lit(1)),
            F.sort_array(F.collect_set(F.col(partition_col).cast("string"))),
        ).first()
        n_new, vals = int(row[0]), list(row[1])
    else:
        # row count from the staged files' parquet FOOTERS — the same
        # number a metadata-only Spark count resolves to, without
        # scheduling a job for it (this runs once per commit, i.e. per
        # micro-batch on a streaming versioned append)
        from etl_lala_spark.operators.web import _parquet_dir_rows

        n_new, vals = _parquet_dir_rows(staging), None
    return staging, n_new, vals


def _publish(
    table_path: str,
    staging: str,
    expected_base: int | None,
    build_manifest,
) -> int:
    """Claim a data-dir name for ``staging`` and commit the manifest
    ``build_manifest(prev, version, ddir_name)`` returns; retries lost CAS
    races, reclaims orphaned claims, propagates the stream-batch
    watermark, and enforces ``expected_base`` for read-modify-write
    callers."""
    for attempt in range(20):
        prev = table_versions(table_path)
        latest = prev[-1]["version"] if prev else 0
        if expected_base is not None and latest != expected_base:
            # The snapshot this data was derived from is no longer latest:
            # committing would silently drop the rival commit's rows.
            shutil.rmtree(staging, ignore_errors=True)
            raise ConcurrentCommitError(
                f"{table_path}: derived from v{expected_base} but latest is "
                f"v{latest}; re-read and re-derive"
            )
        version = latest + 1
        ddir_name = f"d{version:06d}"
        ddir = os.path.join(table_path, ddir_name)
        try:
            # Refresh the claim timestamp at CLAIM time, not parquet-write
            # time: the staging dir's mtime is the write-completion time,
            # and if the pre-claim work or earlier CAS retries took longer
            # than the orphan grace window, a reclaimer statting the dir in
            # the rename→utime gap would see a stale mtime and could delete
            # a LIVE claim out from under its manifest commit.
            os.utime(staging)
            os.rename(staging, ddir)  # claim the data-dir name
        except OSError:
            # Another writer holds dN. Normally its manifest lands within
            # milliseconds (the critical section is pure metadata) and the
            # next retry sees a new latest. But a writer that CRASHED
            # between claiming dN and committing leaves the name wedged
            # forever — detect that (no manifest references the dir, no
            # manifest holds this version, claim timestamp stale) and
            # delete the orphan so the table stays writable.
            if _reclaim_orphan_dir(table_path, ddir, version):
                continue
            time.sleep(0.25 * (attempt + 1))
            continue
        try:
            os.utime(ddir)  # claim timestamp: liveness marker for reclaim
        except OSError:
            pass
        try:
            manifest = build_manifest(prev, version, ddir_name)
        except Exception:
            # A build error (e.g. append partition_col mismatch) must not
            # leave dN claimed with no manifest — that wedges the version
            # id for rival writers until the orphan-grace reclaim. Return
            # the claim before propagating.
            os.rename(ddir, staging)
            raise
        # Carry the stream-batch high-water mark forward into EVERY commit
        # (not just ingest commits): the exactly-once replay guard reads
        # max(stream_batch_id) over RETAINED manifests, and without the
        # monotone watermark a vacuum could delete the one manifest holding
        # the max — after which a checkpoint-free restart would re-apply
        # old batches and duplicate rows.
        hw = _stream_high_water(prev)
        if "stream_batch_id" in manifest:
            hw = max(hw, manifest["stream_batch_id"])
        if hw >= 0:
            manifest["stream_batch_id"] = hw
        try:
            os.utime(ddir)  # refresh liveness right before the CAS
        except OSError:
            pass
        try:
            committed = _commit(table_path, manifest)
        except FileExistsError:
            os.rename(ddir, staging)  # lost the manifest CAS: retry
            time.sleep(0.25 * (attempt + 1))
            continue
        # A writer stalled past the orphan grace (SIGSTOP, long GC, VM
        # suspend) between claim and commit can have its claimed dir
        # reclaimed by a rival or a vacuum sweep — committing anyway would
        # publish a manifest naming deleted data. Verify the claim
        # survived; if not, retract the just-linked manifest (we created
        # it, its id cannot have been reused) and surface the loss as a
        # concurrency conflict so read-modify-write callers re-derive.
        if not os.path.isdir(ddir):
            try:
                os.remove(_manifest_path(table_path, committed))
            except OSError:
                pass
            raise ConcurrentCommitError(
                f"{table_path}: claimed dir {ddir_name} was reclaimed "
                "during a stall between claim and commit (writer exceeded "
                "the orphan grace window); the staged data is gone — "
                "re-derive and retry the write"
            )
        return committed
    raise RuntimeError(
        f"_publish: lost the commit race 20 times at {table_path}"
    )


def read_version(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DataFrame:
    """Read a pinned snapshot (``version=``) or the latest committed one.
    The returned plan references ONLY the manifest's directories, so later
    commits — and even a subsequent latest-version change — cannot alter
    what this reader sees."""
    vs = table_versions(table_path)
    if not vs:
        raise FileNotFoundError(f"no committed versions at {table_path}")
    by_id = {m["version"]: m for m in vs}
    if version is not None and version not in by_id:
        raise ValueError(
            f"version {version} not found at {table_path} (committed: "
            f"{sorted(by_id)}; earlier versions may have been vacuumed)"
        )
    m = by_id[version] if version is not None else vs[-1]
    paths = [os.path.join(table_path, d) for d in m["dirs"]]
    # mergeSchema: append commits may widen the schema (the reference's
    # month-over-month column additions, SURVEY §1.3); the union schema is
    # the snapshot's schema, with missing columns null-filled per dir.
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def rollback(table_path: str, to_version: int) -> int:
    """Restore a previous snapshot as a NEW version (history stays intact —
    an audit can still read the bad versions). O(1): no data moves, the new
    manifest just re-points at the old version's directories."""
    for _ in range(20):
        cur = table_versions(table_path)
        by_id = {m["version"]: m for m in cur}
        if to_version not in by_id:
            raise ValueError(
                f"version {to_version} not found at {table_path} "
                "(it may have been vacuumed)"
            )
        target = by_id[to_version]
        # A vacuum racing this rollback may have expired the target and
        # deleted its data dirs after we read the manifest — committing
        # would point the new latest at deleted data. Check the dirs
        # exist right before the CAS (the re-read above also re-fetches
        # the manifest each retry).
        missing = [
            d for d in target["dirs"]
            if not os.path.isdir(os.path.join(table_path, d))
        ]
        if missing:
            raise ValueError(
                f"rollback target v{to_version} data dirs {missing} no "
                f"longer exist at {table_path} (vacuumed); cannot restore"
            )
        version = (cur[-1]["version"] if cur else 0) + 1
        manifest = {
            "version": version,
            "op": f"rollback:{to_version}",
            "dirs": list(target["dirs"]),
            "n_rows": target["n_rows"],
            "schema": target["schema"],
            "ts": time.time(),
        }
        # Partition tracking follows the restored snapshot.
        for k in ("partition_col", "parts", "dir_rows"):
            if k in target:
                manifest[k] = target[k]
        # Rollback must NOT roll back the exactly-once watermark: the
        # batches ingested after `to_version` were still applied once, and
        # a replay of their ids after this commit must stay blocked.
        hw = _stream_high_water(cur)
        if hw >= 0:
            manifest["stream_batch_id"] = hw
        try:
            return _commit(table_path, manifest)
        except FileExistsError:
            time.sleep(0.25)  # lost the CAS to a concurrent commit: re-read, retry
    raise RuntimeError(f"rollback: lost the commit race 20 times at {table_path}")


def vacuum(table_path: str, keep_last: int = 2) -> list[str]:
    """Retention: keep the last ``keep_last`` manifests, delete every data
    directory none of them references (and the expired manifests). Readers
    pinned to a vacuumed version break by design — that is the retention
    contract; size ``keep_last`` to the longest reader/time-travel window.
    Returns the deleted directory names."""
    vs = table_versions(table_path)
    if not vs:
        return []
    # Even when nothing expires, fall through to the orphan sweep below —
    # that is what makes vacuum idempotent against a prior partial run.
    n_exp = max(0, len(vs) - keep_last)
    kept, expired = vs[n_exp:], vs[:n_exp]
    live = {d for m in kept for d in m["dirs"]}
    removed = []
    for m in expired:
        try:
            os.remove(_manifest_path(table_path, m["version"]))
        except FileNotFoundError:
            pass  # a rival vacuum removed it first: idempotent
    for m in expired:
        for d in m["dirs"]:
            if d not in live and os.path.isdir(os.path.join(table_path, d)):
                # ignore_errors: a rival vacuum deleting the same expired
                # dir between the isdir check and here must not crash an
                # operation that is logically idempotent
                shutil.rmtree(os.path.join(table_path, d), ignore_errors=True)
                removed.append(d)
    # Idempotency sweep: also delete table-level d* directories NO retained
    # manifest references and whose claim timestamp is past the orphan
    # grace window. A crash between the two loops above (manifests deleted,
    # data dirs not yet) — or an orphaned claim whose version id a later
    # rollback manifest occupies, which the writer-side reclaim skips —
    # would otherwise leak disk forever, because a later vacuum only walks
    # dirs referenced by then-expired manifests. The grace window keeps a
    # LIVE claim (writer between claim and manifest commit, mtime refreshed
    # at claim time) safe from the sweep.
    retained = {d for m in table_versions(table_path) for d in m["dirs"]}
    now = time.time()
    for name in os.listdir(table_path):
        if name in retained or not (name.startswith("d") and name[1:].isdigit()):
            continue
        p = os.path.join(table_path, name)
        try:
            if not os.path.isdir(p) or now - os.stat(p).st_mtime < _ORPHAN_GRACE_S:
                continue
        except OSError:
            continue  # vanished mid-sweep: a rival vacuum got it
        # Claim atomically by renaming aside (same protocol as the writer's
        # orphan reclaim) so two sweepers can't interleave on one dir.
        aside = f"{p}.orphan.{_private_suffix()}"
        try:
            os.rename(p, aside)
        except OSError:
            continue
        shutil.rmtree(aside, ignore_errors=True)
        removed.append(name)
    # Leak sweep beside the table: a writer that crashed before claiming
    # (or whose build error returned the claim to staging and raised)
    # leaves a full `<table>.staging.*` parquet copy next to the table,
    # and an interrupted reclaim can leave a half-deleted `*.orphan.*`
    # aside dir — neither is inside table_path, so the d* sweep above
    # never sees them. The much larger grace keeps live writers safe:
    # staging is written long before the claim and a big parquet write
    # plus its stats scan can legitimately take minutes.
    parent = os.path.dirname(table_path.rstrip("/")) or "."
    base = os.path.basename(table_path.rstrip("/"))
    for name in os.listdir(parent):
        if not name.startswith(f"{base}.staging."):
            continue
        p = os.path.join(parent, name)
        try:
            if now - os.stat(p).st_mtime < _STAGING_GRACE_S:
                continue
        except OSError:
            continue
        shutil.rmtree(p, ignore_errors=True)
        removed.append(name)
    # half-deleted orphan asides INSIDE the table dir (from the d* sweep's
    # own rename-aside protocol interrupted mid-rmtree)
    for name in os.listdir(table_path):
        if ".orphan." not in name:
            continue
        p = os.path.join(table_path, name)
        try:
            if now - os.stat(p).st_mtime < _ORPHAN_GRACE_S:
                continue
        except OSError:
            continue
        shutil.rmtree(p, ignore_errors=True)
        removed.append(name)
    return sorted(set(removed))


def merge_version(
    spark: SparkSession,
    table_path: str,
    changelog: DataFrame,
    key: str,
    seq_col: str = "seq",
    op_col: str = "op",
) -> int:
    """Apply a CDC changelog to the table's latest snapshot and commit the
    result as a new version — MERGE INTO against the transaction log.
    Composes ``operators.relational.merge_changelog`` (latest-wins per key,
    deterministic tie-break, null-safe deletes) with an overwrite commit, so
    every merge is atomic, time-travelable, and rollback-able; a bad feed is
    undone by ``rollback(table, v-1)`` without data archaeology.

    Scale: the merge shuffles only the changelog (max_by agg) plus the
    anti-join; the commit rewrites the merged snapshot once — the same cost
    the reference's delete-then-reinsert pays per month, with none of its
    reader races.

    Concurrency: read-modify-write, so the base version is captured at
    read time and passed to ``write_version`` as ``expected_base`` — if a
    rival (e.g. a streaming append micro-batch) commits between the read
    and the commit, the stale merge is thrown away and re-derived against
    the new latest instead of silently dropping the rival's rows."""
    from etl_lala_spark.operators.relational import merge_changelog

    for _ in range(20):
        vs = table_versions(table_path)
        if not vs:
            raise FileNotFoundError(f"no committed versions at {table_path}")
        base_v = vs[-1]["version"]
        base = read_version(spark, table_path, version=base_v)
        merged = merge_changelog(base, changelog, key, seq_col=seq_col, op_col=op_col)
        try:
            return write_version(
                merged,
                table_path,
                mode="overwrite",
                expected_base=base_v,
                # the merged snapshot stays partition-tracked
                partition_col=vs[-1].get("partition_col"),
            )
        except ConcurrentCommitError:
            continue  # table advanced: re-read and re-merge
    raise RuntimeError(f"merge_version: lost the commit race 20 times at {table_path}")


def compact_version(spark: SparkSession, table_path: str) -> int:
    """Rewrite the latest snapshot's (possibly many, append-fragmented)
    data directories into ONE directory committed as a new version — the
    maintenance pass a long-appended table needs (manifest length and
    open-file count grow per append; scan cost follows file count, not
    bytes). Readers pinned to older versions are untouched; reclaiming the
    superseded directories is ``vacuum``'s job, after the retention
    window.

    Concurrency: like ``merge_version``, the compacted snapshot is pinned
    to the version it was read from (``expected_base``); a racing append
    commit aborts the stale compaction, which re-reads and re-compacts —
    never silently dropping the appended rows."""
    for _ in range(20):
        vs = table_versions(table_path)
        if not vs:
            raise FileNotFoundError(f"no committed versions at {table_path}")
        base_v = vs[-1]["version"]
        merged = read_version(spark, table_path, version=base_v)
        try:
            return write_version(
                merged,
                table_path,
                mode="overwrite",
                expected_base=base_v,
                # compaction keeps the table partition-tracked
                partition_col=vs[-1].get("partition_col"),
            )
        except ConcurrentCommitError:
            continue  # table advanced: re-read and re-compact
    raise RuntimeError(
        f"compact_version: lost the commit race 20 times at {table_path}"
    )


def stream_versioned_append(
    stream_df: DataFrame, table_path: str, checkpoint: str | None = None
):
    """Exactly-once streaming ingest into a versioned table: each
    micro-batch lands as one atomic append commit whose manifest carries
    the batch id — so the replay guard is TRANSACTIONAL with the data
    commit itself, unlike a side-file guard. After a crash, a foreachBatch
    replay either finds a committed manifest with its batch id (skip — the
    data is provably in) or finds none (the dead attempt's unreferenced
    data dir is garbage for the orphan reclaim, and the batch re-commits);
    there is no window where data landed but the guard says otherwise.
    At-least-once upstream delivery (reference T6,
    src/queue/consumers/arquivo-preparacao.consumer.ts retry loop) thus
    becomes exactly-once table state, and every micro-batch is a
    time-travelable snapshot — a bad batch is undone by ``rollback``.

    Share ``checkpoint`` across restarts so Structured Streaming keeps
    batch ids monotone; without it a new run restarts at batch 0 and the
    guard (correctly, by its contract) treats those ids as already applied.

    Scale: per batch, one parquet write of the batch + one tiny manifest;
    the table's history grows by manifests, not rewrites — run
    ``compact_version`` + ``vacuum`` on the cadence fragmentation demands.
    Returns the started StreamingQuery."""

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        applied = _stream_high_water(table_versions(table_path))
        if batch_id <= applied:
            return  # replayed batch: its manifest is already committed
        write_version(
            batch_df, table_path, mode="append",
            extra={"stream_batch_id": batch_id},
        )

    w = stream_df.writeStream.foreachBatch(ingest).trigger(availableNow=True)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w.start()
