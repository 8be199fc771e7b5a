"""Versioned checkpoint tables for resumable crawl rounds.

The north rule prescribes frontier + seen-set checkpointed to Iceberg
between spark-submit rounds. Iceberg jars are not present in this
sandbox, so this module provides the same *semantics* on plain parquet:

- every logical table is a directory of immutable versioned snapshots
  (``{root}/{name}/v{K}/`` parquet dirs);
- a ``LATEST`` pointer file is committed via ``os.replace`` (atomic on
  POSIX) **after** the parquet write succeeds — a crashed round leaves
  the previous version live, so restart-from-checkpoint is exact;
- re-running a round overwrites its snapshot then re-commits the
  pointer — idempotent;
- the pointer also records the schema the version was written with, so
  a read of that version skips Spark's schema-inference job (one Spark
  job per read, on the crawl's per-round path). A pointer without one
  (a catalog written before schemas were recorded) reads by inference.

In production the implementation swaps to Iceberg
(``df.writeTo(name).overwritePartitions()`` + snapshot rollback);
callers only see :class:`Catalog`. The seen-set snapshot is written
pre-partitioned by a stable url-hash bucket so the next round's
anti-join reads co-partitioned data (SURVEY.md §4.1).
"""

from __future__ import annotations

import json
import os
import re
import shutil
from typing import Optional

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql.types import StructType

_MARKER_NAME = re.compile(r"[A-Za-z0-9._-]+")


class Catalog:
    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- pointer management -------------------------------------------------
    def _pointer_path(self, name: str) -> str:
        return os.path.join(self.root, name, "LATEST")

    def _pointer(self, name: str) -> Optional[dict]:
        try:
            with open(self._pointer_path(name)) as f:
                info = json.load(f)
            info["version"] = int(info["version"])
            return info
        except (OSError, ValueError, KeyError, TypeError):
            return None

    def latest_version(self, name: str) -> Optional[int]:
        info = self._pointer(name)
        return None if info is None else info["version"]

    def _commit(
        self, name: str, version: int, schema: Optional[StructType] = None
    ) -> None:
        """Publish ``version``, recording the ``schema`` it was written
        with (read back by :meth:`_reader`)."""
        path = self._pointer_path(name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        info: dict = {"version": version}
        if schema is not None:
            info["schema"] = schema.jsonValue()
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(info, f)
        os.replace(tmp, path)  # atomic pointer swap

    def _reader(self, name: str, version: int) -> DataFrameReader:
        """A parquet reader for ``version``, given the schema the pointer
        recorded when it names that version. Any other version (an older
        snapshot, a pointer a crashed round moved past the one asked
        for) or a pointer without a schema reads by inference."""
        reader = self.spark.read
        info = self._pointer(name)
        if info is not None and info["version"] == version and "schema" in info:
            reader = reader.schema(StructType.fromJson(info["schema"]))
        return reader

    # -- round marker (atomic multi-table commit) ---------------------------
    # A crawl round touches several tables (frontier, seen, schedule,
    # metrics); the single source of truth for "which round is durable"
    # is this marker, committed LAST. On restart the round re-executes
    # from the marker's version: all its table writes are idempotent
    # overwrites of versioned dirs, so a crash anywhere mid-round
    # leaves the previous round fully live (Iceberg-snapshot
    # semantics on plain parquet).
    def committed_round(self) -> Optional[int]:
        return self.latest_version("_round")

    def commit_round(self, round_no: int) -> None:
        self._commit("_round", round_no)

    # -- table io -----------------------------------------------------------
    def _data_dir(self, name: str, version: int) -> str:
        return os.path.join(self.root, name, f"v{version}")

    def write(
        self, name: str, df: DataFrame, version: int, keep: Optional[int] = None
    ) -> None:
        """Write snapshot ``version`` then atomically publish it.

        ``keep``: retain only the newest ``keep`` snapshot versions,
        deleting older ``v*`` dirs after the pointer lands (a per-round
        snapshot table such as the frontier would otherwise grow by one
        full copy every round). Resume needs at most the committed
        round and its successor, so small values are safe."""
        path = self._data_dir(name, version)
        df.write.mode("overwrite").parquet(path)
        self._commit(name, version, df.schema)
        if keep is not None:
            table_dir = os.path.join(self.root, name)
            for d in os.listdir(table_dir):
                if d.startswith("v") and d[1:].isdigit() and int(d[1:]) <= version - keep:
                    shutil.rmtree(os.path.join(table_dir, d), ignore_errors=True)

    def write_replace(self, name: str, df: DataFrame, version: int) -> None:
        """Replace an EXISTING committed snapshot version in place,
        crash-safely — the primitive the revisit sweep needs (it edits
        the already-committed frontier, unlike the round loop, which
        only ever writes version round+1 and so always has the prior
        intact version to fall back to).

        Plain ``write`` is not safe here: Spark's overwrite deletes
        the target dir before the new files land, so a crash mid-write
        destroys the only copy of the committed state.  Protocol:
        write the full new snapshot to ``v{N}__new``, rename the old
        dir to ``v{N}__old``, promote ``__new``, delete ``__old``.
        Every crash point is recoverable: before the first rename the
        old data is untouched (a stray ``__new`` is ignored/replaced);
        between the renames the target is missing but ``__new`` is
        complete — ``read`` heals by promoting it; after promotion the
        leftover ``__old`` is swept on the next replace.

        Single-driver only: one process may run ``write_replace`` or
        ``read`` on a catalog at a time. The staging dirs carry no
        owner, so a second driver's ``read`` of the same version would
        take this call's in-flight ``__new`` for an abandoned one and
        delete it mid-write (and a second ``write_replace`` would
        remove it up front)."""
        path = self._data_dir(name, version)
        if not os.path.isdir(path):
            self._heal_replace(name, version)
        if not os.path.isdir(path):
            raise ValueError(
                f"write_replace targets an existing snapshot; "
                f"{name} v{version} does not exist"
            )
        new_dir, old_dir = path + "__new", path + "__old"
        shutil.rmtree(new_dir, ignore_errors=True)
        shutil.rmtree(old_dir, ignore_errors=True)
        df.write.mode("overwrite").parquet(new_dir)
        os.rename(path, old_dir)
        os.rename(new_dir, path)
        shutil.rmtree(old_dir, ignore_errors=True)
        self._commit(name, version, df.schema)

    def _heal_replace(self, name: str, version: int) -> None:
        """Complete a ``write_replace`` interrupted between its two
        renames: the target dir is missing but the fully-written
        ``__new`` (or the untouched ``__old``) sibling exists.  A
        ``__new`` without Spark's ``_SUCCESS`` marker is a TRUNCATED
        staging write (crash mid-parquet-write) — promoting it would
        serve partial data as committed state, so it is discarded and
        ``__old`` (if any) restored instead."""
        path = self._data_dir(name, version)
        new_dir, old_dir = path + "__new", path + "__old"
        if os.path.isdir(new_dir) and not os.path.exists(
            os.path.join(new_dir, "_SUCCESS")
        ):
            shutil.rmtree(new_dir, ignore_errors=True)
        for cand in (new_dir, old_dir):
            if os.path.isdir(cand):
                os.rename(cand, path)
                other = old_dir if cand == new_dir else new_dir
                shutil.rmtree(other, ignore_errors=True)
                return

    # -- idempotence markers -------------------------------------------------
    def put_marker(self, name: str) -> None:
        """Atomically record a named idempotence marker (e.g. an
        applied revisit cycle).  Keeping marker layout and atomicity
        inside Catalog preserves the module's portability contract
        (the implementation swaps to Iceberg snapshots in production;
        callers only see Catalog)."""
        if not _MARKER_NAME.fullmatch(name):
            raise ValueError(
                f"marker name {name!r} must match [A-Za-z0-9._-]+ "
                "(it becomes a file name)"
            )
        d = os.path.join(self.root, "markers")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, name)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write("applied")
        os.replace(tmp, path)

    def has_marker(self, name: str) -> bool:
        if not _MARKER_NAME.fullmatch(name):
            raise ValueError(
                f"marker name {name!r} must match [A-Za-z0-9._-]+ "
                "(it becomes a file name)"
            )
        return os.path.exists(os.path.join(self.root, "markers", name))

    def read(self, name: str, version: Optional[int] = None) -> Optional[DataFrame]:
        """Read snapshot ``version`` (default: the table's own latest
        pointer). Passing an explicit version pins a re-executed round
        to its committed inputs even if a crashed later attempt left a
        newer pointer behind.

        Assumes a single driver per catalog: it deletes any
        ``__new``/``__old`` sibling of the version as garbage from an
        abandoned ``write_replace``, which is only safe when no other
        process can be in the middle of one (a concurrent reader would
        delete the live staging dir)."""
        if version is None:
            version = self.latest_version(name)
        if version is None:
            return None
        path = self._data_dir(name, version)
        if not os.path.isdir(path):
            # a write_replace may have died between its renames
            self._heal_replace(name, version)
        else:
            # GC orphans from an abandoned write_replace (crash during
            # the staging write, sweep never retried): the target is
            # intact, so any lingering siblings are superseded garbage
            # that would otherwise leak a snapshot-sized dir each.
            for sib in (path + "__new", path + "__old"):
                shutil.rmtree(sib, ignore_errors=True)
        return self._reader(name, version).parquet(path)

    def append(
        self,
        name: str,
        df: DataFrame,
        version: int,
        partition_cols: Optional[list] = None,
    ) -> None:
        """Append-style table (results, metrics): each round writes its
        own immutable sub-snapshot; readers union all committed rounds.

        ``partition_cols``: write the sub-snapshot dir-partitioned on
        these columns (e.g. the seen-set's url-hash ``bucket`` for the
        membership bucket probe — each bucket's rows land in their own
        ``bucket=K/`` subdir, so a reader that knows its bucket reads
        only those files, no shuffle)."""
        path = os.path.join(self.root, name, f"r{version:06d}")
        w = df.write.mode("overwrite")
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.parquet(path)  # idempotent per round
        self._commit(name, version, df.schema)

    # -- delta compaction ---------------------------------------------------
    def _base_path(self, name: str) -> str:
        return os.path.join(self.root, name, "BASE")

    def _base_info(self, name: str) -> Optional[dict]:
        try:
            with open(self._base_path(name)) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def compact(self, name: str, version: Optional[int] = None) -> None:
        """Fold all deltas ≤ ``version`` (default: the table's pointer)
        into one base snapshot, Iceberg-compaction style: write the
        combined data to a new dir, atomically commit the BASE pointer,
        then lazily delete the superseded delta dirs (safe in any crash
        order — readers ignore deltas ≤ BASE the instant the pointer
        lands, and until then the old deltas are still the truth)."""
        if version is None:
            version = self.latest_version(name)
        if version is None:
            return
        prev = self._base_info(name)
        if prev is not None and prev["version"] >= version:
            return  # already compacted past this point
        df = self.read_appended(name, version)
        if df is None:
            return
        dest = os.path.join(self.root, name, f"compact_v{version:06d}")
        w = df.write.mode("overwrite")
        # Preserve dir-partitioning through compaction: if the deltas
        # were bucket-partitioned (membership bucket probe), the base
        # must be too, or the probe's per-bucket file listing would go
        # blind after the first compaction.
        if "bucket" in df.columns:
            w = w.partitionBy("bucket")
        w.parquet(dest)
        tmp = self._base_path(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"version": version, "dir": os.path.basename(dest)}, f)
        os.replace(tmp, self._base_path(name))  # atomic
        base_dir = os.path.join(self.root, name)
        for d in os.listdir(base_dir):
            if d.startswith("r") and d != "LATEST" and int(d[1:]) <= version:
                shutil.rmtree(os.path.join(base_dir, d), ignore_errors=True)
            # Previous compacted bases are fully superseded by the new
            # BASE pointer — without this GC every compaction leaves a
            # full copy of the seen-set on disk (O(rounds/16 · |seen|)).
            elif d.startswith("compact_v") and int(d[len("compact_v"):]) < version:
                shutil.rmtree(os.path.join(base_dir, d), ignore_errors=True)

    def appended_dirs(self, name: str, version: Optional[int] = None) -> list:
        """The committed sub-snapshot dirs a ``read_appended`` at this
        version would union: the compacted base (if any) plus the
        deltas above it. Exposed so the membership bucket probe can
        list per-bucket files from exactly the committed state."""
        if version is None:
            version = self.latest_version(name)
        if version is None:
            return []
        base = os.path.join(self.root, name)
        info = self._base_info(name)
        floor = -1
        dirs = []
        if info is not None and info["version"] <= version:
            dirs.append(os.path.join(base, info["dir"]))
            floor = info["version"]
        dirs += [
            os.path.join(base, d)
            for d in sorted(os.listdir(base))
            if d.startswith("r")
            and d != "LATEST"
            and floor < int(d[1:]) <= version
        ]
        return dirs

    @staticmethod
    def _dir_partitioned(d: str) -> bool:
        """True if a committed sub-snapshot dir is written dir-
        partitioned (``bucket=K/`` subdirs). Local-path fast check;
        remote paths return False and rely on the exception fallback."""
        if "://" in d:
            return False
        try:
            return any(
                "=" in s and os.path.isdir(os.path.join(d, s))
                for s in os.listdir(d)
            )
        except OSError:
            return False

    def _read_union(self, dirs: list) -> Optional[DataFrame]:
        """Per-dir read + union for dir-partitioned sub-snapshots: a
        multi-root read of several partitioned dirs throws
        CONFLICTING_DIRECTORY_STRUCTURES (each dir is its own partition
        root). Plan width stays bounded by compaction (≤ compact_every
        deltas + one base)."""
        from functools import reduce

        from pyspark.errors.exceptions.captured import AnalysisException

        parts = []
        for d in dirs:
            try:
                parts.append(self.spark.read.parquet(d))
            except AnalysisException as e:
                # A zero-row partitionBy write leaves only _SUCCESS
                # (no data files, no schema): a legitimate empty
                # delta for a round that admitted nothing — skip it.
                if "UNABLE_TO_INFER_SCHEMA" in str(e):
                    continue
                raise
        if not parts:
            return None
        return reduce(lambda a, b: a.unionByName(b), parts)

    def read_appended(self, name: str, version: Optional[int] = None) -> Optional[DataFrame]:
        """Union of the compacted base (if any) and all committed
        deltas in (base_version, ``version``] (default ``version``:
        the table's own latest pointer). The deltas and the base of one
        table share its schema: the pointer's, when it names
        ``version``."""
        if version is None:
            version = self.latest_version(name)
        dirs = self.appended_dirs(name, version)
        if not dirs:
            return None
        # Detect the bucket layout up front (one cheap listing) instead
        # of letting the multi-root read fail once per call — the seen
        # table is read every round, and exception-driven fallback paid
        # a doomed file-listing/schema pass each time.
        if any(self._dir_partitioned(d) for d in dirs):
            return self._read_union(dirs)
        try:
            return self._reader(name, version).parquet(*dirs)
        except Exception:
            return self._read_union(dirs)

    # -- bucketed tables -----------------------------------------------------
    # The production design stores pages/seen as Iceberg tables bucketed
    # by url-hash so the membership join is storage-partitioned
    # (SURVEY.md §4.1). Spark's session catalog supports the same with
    # parquet: a bucketed+sorted saveAsTable persists the hash
    # partitioning, and a join of two tables bucketed on the same key
    # plans with NO Exchange on either side (pinned by
    # test_hardening.py::test_bucketed_tables_join_without_shuffle).

    def _table_ident(self, name: str, version: int) -> str:
        safe = name.replace("-", "_")
        return f"{safe}_v{version}"

    def write_bucketed(
        self,
        name: str,
        df: DataFrame,
        version: int,
        n_buckets: int,
        key: str = "url",
    ) -> None:
        """Write snapshot ``version`` as a bucketed+sorted table and
        publish the pointer. Readers use :meth:`read_bucketed` (the
        bucketing metadata lives in the session catalog; a plain
        parquet read of the same files would not know about it)."""
        ident = self._table_ident(name, version)
        self.spark.sql(f"DROP TABLE IF EXISTS {ident}")
        (
            df.write.format("parquet")
            .mode("overwrite")
            .bucketBy(n_buckets, key)
            .sortBy(key)
            .option("path", self._data_dir(name, version))
            .saveAsTable(ident)
        )
        self._commit(name, version)

    def read_bucketed(self, name: str, version: Optional[int] = None) -> Optional[DataFrame]:
        if version is None:
            version = self.latest_version(name)
        if version is None:
            return None
        return self.spark.table(self._table_ident(name, version))

    def drop(self, name: str) -> None:
        shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)
