"""Minimal ACID transaction log over parquet (mini "lakehouse" table).

The reference gets atomic inserts for free from Postgres (every
`add_interaction` / `add_document` is one transaction — reference
`query.txt:161-183`, `database.py:158-199`).  A parquet directory has no
such guarantee: a writer that dies mid-job leaves half its part-files
visible, and two concurrent writers can interleave.  This module adds the
guarantee back with the public ordered-log-of-actions design (Armbrust et
al., "Delta Lake: High-Performance ACID Table Storage over Cloud Object
Stores", VLDB 2020): data files are immutable and invisible until a commit
record lists them, commits are totally ordered by an atomically-created
version file, and readers reconstruct a snapshot by replaying the log.

No lake-format library is required — the log is plain JSON next to plain
parquet, and every primitive used (atomic create-if-absent via ``os.link``,
immutable data files, replay) works on any filesystem with atomic namespace
ops (HDFS, local; on S3 the create-if-absent step would use a DynamoDB-style
coordinator, as the paper discusses).  Note the hard-link constraint:
``os.link`` is the publish primitive (it exposes the version file only with
complete content), so mounts without hard links (FAT/exFAT, some
network/object-store FUSE mounts) are out of scope — on such a mount the
link raises OSError rather than committing; fall back to a lake format with
a real coordinator there.

Guarantees:
- **Atomicity** — a crashed job's orphan part-files are never visible
  (nothing references them); `vacuum` reclaims them later.
- **Snapshot isolation** — a reader resolves the file list once at version
  `v`; concurrent commits never mutate existing files, so the snapshot
  stays consistent for the whole query (and `read(version=...)` is time
  travel).
- **Optimistic concurrency** — two writers racing to commit version `n`:
  exactly one O_EXCL create succeeds; the loser re-reads the log and
  retries on top (appends always merge; overwrite-vs-anything conflicts
  raise).
- **Bounded metadata** — replay cost is O(commits since last checkpoint);
  a full-snapshot checkpoint is written every `checkpoint_every` commits,
  so cold reads stay O(files) at any table age.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from .local import local_frame

_LOG_DIR = "_txlog"
_DATA_DIR = "data"


class CommitConflict(Exception):
    """A concurrent writer committed a conflicting change (overwrite races)."""


class TxTable:
    """An ACID parquet table addressed by its root directory."""

    def __init__(self, spark: SparkSession, root: str, *, checkpoint_every: int = 10):
        self.spark = spark
        self.root = root
        self.checkpoint_every = checkpoint_every
        os.makedirs(os.path.join(root, _LOG_DIR), exist_ok=True)
        os.makedirs(os.path.join(root, _DATA_DIR), exist_ok=True)

    # ---------------------------------------------------------------- log

    def _version_path(self, v: int) -> str:
        return os.path.join(self.root, _LOG_DIR, f"{v:08d}.json")

    def _checkpoint_path(self, v: int) -> str:
        return os.path.join(self.root, _LOG_DIR, f"checkpoint-{v:08d}.json")

    def latest_version(self) -> int:
        """Highest committed version, -1 for an empty table."""
        versions = [
            int(os.path.basename(p)[:-5])
            for p in glob.glob(os.path.join(self.root, _LOG_DIR, "[0-9]*.json"))
        ]
        return max(versions, default=-1)

    def _snapshot_files(self, version: int) -> list[str]:
        """Replay checkpoint + incremental commits up to `version`."""
        start, live = 0, set()
        cps = sorted(
            int(os.path.basename(p)[len("checkpoint-") : -5])
            for p in glob.glob(os.path.join(self.root, _LOG_DIR, "checkpoint-*.json"))
            if int(os.path.basename(p)[len("checkpoint-") : -5]) <= version
        )
        if cps:
            with open(self._checkpoint_path(cps[-1])) as f:
                live = set(json.load(f)["files"])
            start = cps[-1] + 1
        for v in range(start, version + 1):
            path = self._version_path(v)
            if not os.path.exists(path):
                raise FileNotFoundError(
                    f"version {v} of {self.root} is missing (vacuumed or never committed)"
                )
            with open(path) as f:
                entry = json.load(f)
            live -= set(entry.get("remove", []))
            live |= set(entry.get("add", []))
        return sorted(live)

    def _try_commit(self, version: int, entry: dict) -> bool:
        """Atomically publish the version file WITH its full content; False
        if a rival won the race.

        O_CREAT|O_EXCL followed by an in-place write is atomic in namespace
        but not in content: a crash (or a racing reader) between create and
        json.dump exposes an empty NNNNNNNN.json that ``latest_version``
        counts as committed, bricking every later read.  Instead the body
        is fully written + fsync'd to a tmp name, then ``os.link`` performs
        the create-if-absent — same O_EXCL race semantics (link raises
        FileExistsError if a rival won), but the name only ever appears
        with complete content."""
        path = self._version_path(version)
        tmp = path + f".{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            json.dump(entry, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)
        if version > 0 and version % self.checkpoint_every == 0:
            # resolve the snapshot BEFORE creating the checkpoint file —
            # _snapshot_files globs checkpoints and would read the empty one
            files = self._snapshot_files(version)
            cp_tmp = self._checkpoint_path(version) + ".tmp"
            with open(cp_tmp, "w") as f:
                json.dump({"version": version, "files": files}, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(cp_tmp, self._checkpoint_path(version))
        return True

    def _commit(self, entry: dict, *, retries: int = 64) -> int:
        for _ in range(retries):
            version = self.latest_version() + 1
            if entry["action"] == "overwrite" and version != entry["read_version"] + 1:
                # someone committed since we computed the overwrite — their
                # change would be silently dropped; surface the conflict
                raise CommitConflict(
                    f"overwrite computed at v{entry['read_version']} but table is at v{version - 1}"
                )
            if self._try_commit(version, entry):
                return version
        raise CommitConflict(f"lost the commit race {retries} times on {self.root}")

    # -------------------------------------------------------------- write

    def _write_data_files(self, df: DataFrame) -> list[str]:
        """Stage immutable part-files under a unique subdir; nothing is
        visible until a commit entry references them."""
        sub = os.path.join(_DATA_DIR, uuid.uuid4().hex)
        df.write.parquet(os.path.join(self.root, sub))
        return sorted(
            os.path.join(sub, os.path.basename(p))
            for p in glob.glob(os.path.join(self.root, sub, "part-*.parquet"))
        )

    def append(self, df: DataFrame) -> int:
        """Transactional append; returns the committed version."""
        files = self._write_data_files(df)
        return self._commit(
            {"action": "append", "add": files, "remove": [], "schema": df.schema.json()}
        )

    def overwrite(self, df: DataFrame) -> int:
        """Atomic full-table replace (readers see old or new, never a mix)."""
        read_v = self.latest_version()
        old = self._snapshot_files(read_v) if read_v >= 0 else []
        files = self._write_data_files(df)
        return self._commit(
            {
                "action": "overwrite",
                "add": files,
                "remove": old,
                "read_version": read_v,
                "schema": df.schema.json(),
            }
        )

    def compact(self, *, target_files: int = 1) -> int:
        """Rewrite the current snapshot into `target_files` files — the
        small-file fix for streaming appends.  Old versions stay readable
        (their files are removed from the NEW snapshot, not deleted)."""
        read_v = self.latest_version()
        old = self._snapshot_files(read_v)
        df = self.read(version=read_v).coalesce(target_files)
        files = self._write_data_files(df)
        return self._commit(
            {
                "action": "overwrite",
                "add": files,
                "remove": old,
                "read_version": read_v,
                "schema": df.schema.json(),
            }
        )

    # --------------------------------------------------------------- read

    def read(self, *, version: int | None = None) -> DataFrame:
        """Snapshot read; `version` = time travel to an older commit."""
        v = self.latest_version() if version is None else version
        if v < 0:
            raise FileNotFoundError(f"{self.root} has no committed version")
        files = self._snapshot_files(v)
        if not files:
            # committed-but-empty table: reproduce the schema from the log
            with open(self._version_path(v)) as f:
                from pyspark.sql.types import StructType

                schema = StructType.fromJson(json.loads(json.load(f)["schema"]))
            return local_frame(self.spark, [], schema)
        return self.spark.read.parquet(*[os.path.join(self.root, f) for f in files])

    # ------------------------------------------------------------ cleanup

    def vacuum(self, *, retention_seconds: float = 3600.0) -> list[str]:
        """Delete data files unreferenced by the LATEST snapshot (orphans
        from crashed writers, pre-compaction files).  Time travel to
        versions whose files were vacuumed then raises — same contract as
        the paper's retention-based VACUUM.

        ``retention_seconds`` is the paper's retention window and is what
        makes vacuum safe under CONCURRENT writers: ``append``/``overwrite``
        stage their data dir BEFORE committing, and a zero-grace vacuum
        cannot tell that in-flight dir from a crashed writer's orphan —
        deleting it would let the writer commit a version referencing
        deleted files (a committed-but-unreadable table).  Directories
        younger than the window are skipped; a healthy writer commits in
        seconds, so any real orphan ages past the window and is reclaimed
        on the next pass.  Pass ``retention_seconds=0`` only when no other
        writer can be in flight (tests, single-writer maintenance)."""
        import time

        cutoff = time.time() - retention_seconds
        live = {
            os.path.join(self.root, f) for f in self._snapshot_files(self.latest_version())
        }
        removed = []
        for d in glob.glob(os.path.join(self.root, _DATA_DIR, "*")):
            # a rival vacuum (or any cleaner) may remove the dir between our
            # glob and the stat/rmtree — a vanished dir is already reclaimed,
            # not a reason to abort the whole pass
            # only a vanished dir is a benign race; any OTHER OSError
            # (permissions, read-only FS) must surface — swallowing it
            # would turn vacuum into a silent no-op that reports an empty
            # removed list while reclaiming nothing
            try:
                if os.path.getmtime(d) > cutoff:
                    continue  # possibly a concurrent writer's staged-not-yet-committed dir
                files = set(glob.glob(os.path.join(d, "part-*.parquet")))
            except FileNotFoundError:
                continue
            if files and files.isdisjoint(live):
                try:
                    shutil.rmtree(d)
                except FileNotFoundError:
                    continue
                removed.append(d)
        # _try_commit's tmp files leak if a writer crashes between write and
        # os.link; they never match the *.json read globs but accumulate
        # forever — sweep the aged ones here too
        for tmp in glob.glob(os.path.join(self.root, _LOG_DIR, "*.tmp")):
            try:
                if os.path.getmtime(tmp) <= cutoff:
                    os.unlink(tmp)
            except FileNotFoundError:
                continue
        return removed
