"""Versioned managed tables: a minimal copy-on-write table format that
makes the engine's mutations (upsert/update/delete — SURVEY.md §2.4)
atomic, isolated, and time-travelable without external dependencies.

This closes the "managed-table mutations rewrite the full table
non-transactionally" gap: the reference gets transactionality from
Postgres (every ``Database.upsert`` statement is an implicit
transaction, revtron/database/main.py:114-115); plain parquet
directories lose it. The design here is the core of what
Delta/Iceberg/Hudi do, reduced to the essentials:

* **Immutable data files.** Writers only ADD parquet files — never
  modify or delete live ones (deletion happens in ``vacuum``, and only
  for files no retained version references).
* **Manifest log.** ``_log/<version>.json`` lists exactly the files
  that make up a version. A reader pins one manifest and sees a
  consistent snapshot regardless of concurrent writers.
* **Atomic commit = one file creation.** The manifest is written with
  O_EXCL — if two writers race to commit the same version, exactly one
  wins; the loser gets ``CommitConflict`` and retries on fresh state
  (optimistic concurrency, same protocol as Delta's log).

At 100 TB the same structure works with two changes: the log lives in
object storage with a put-if-absent primitive, and ``merge`` rewrites
only the files that contain matched keys (file-level pruning via the
manifest's min/max stats) instead of the whole table.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass
from pathlib import Path
from typing import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession

from .io import footer_schema
from .operators.merge import delete_where, keyed_update, observe_hits, upsert_merge


class CommitConflict(RuntimeError):
    """Another writer committed this version first — reload and retry."""


def _fmt_version(v: int) -> str:
    return f"{v:08d}.json"


@dataclass
class VersionedTable:
    spark: SparkSession
    path: str

    # ------------------------------------------------------------ log I/O

    @property
    def _log_dir(self) -> Path:
        return Path(self.path) / "_log"

    def history(self) -> list[int]:
        """All committed versions, ascending."""
        if not self._log_dir.exists():
            return []
        return sorted(int(p.stem) for p in self._log_dir.glob("*.json"))

    def latest_version(self) -> int:
        versions = self.history()
        if not versions:
            raise FileNotFoundError(f"no table at {self.path}")
        return versions[-1]

    def _manifest(self, version: int) -> dict:
        return json.loads((self._log_dir / _fmt_version(version)).read_text())

    def _commit(
        self, version: int, files: list[str], op: str, evolved: bool = False
    ) -> None:
        """Atomic put-if-absent of the manifest: O_EXCL creation makes
        the version file the commit point — a racing writer of the same
        version raises CommitConflict and must rebase."""
        self._log_dir.mkdir(parents=True, exist_ok=True)
        manifest = {
            "version": version,
            "files": sorted(files),
            "op": op,
            "committed_at": time.time(),
            "evolved": evolved,
        }
        target = self._log_dir / _fmt_version(version)
        # write the FULL manifest to a temp file first, then hard-link it
        # into place: link(2) fails with EEXIST exactly like O_EXCL (the
        # conflict signal), but the commit point now carries complete
        # content — a crash can never leave a truncated manifest that
        # wedges every future read and commit
        tmp = self._log_dir / f".tmp-{uuid.uuid4().hex[:12]}"
        tmp.write_text(json.dumps(manifest))
        try:
            os.link(tmp, target)
        except FileExistsError as e:
            raise CommitConflict(
                f"version {version} already committed at {self.path}"
            ) from e
        finally:
            tmp.unlink(missing_ok=True)

    # ------------------------------------------------------------- writes

    def _write_files(self, df: DataFrame) -> list[str]:
        """Materialize df as new immutable parquet files in a unique
        subdirectory; returns their table-relative paths."""
        sub = f"data-{uuid.uuid4().hex[:12]}"
        out = Path(self.path) / sub
        df.write.mode("error").parquet(str(out))
        return [f"{sub}/{p.name}" for p in out.glob("*.parquet")]

    @classmethod
    def create(cls, spark: SparkSession, path: str, df: DataFrame) -> "VersionedTable":
        t = cls(spark, path)
        if t.history():
            raise FileExistsError(f"table already exists at {path}")
        files = t._write_files(df)
        t._commit(0, files, "create")
        return t

    def overwrite(
        self,
        df: DataFrame,
        cluster_by: Sequence[str] | None = None,
        num_files: int | None = None,
    ) -> int:
        """Replace the table contents. ``cluster_by`` Z-orders the write
        (layout.zorder_arrange) so each file covers a narrow range of
        every clustered column — which is exactly what makes ``merge``'s
        footer-stats file pruning effective: cluster on the merge key
        and a narrow-band merge rewrites a narrow band of files."""
        if cluster_by:
            from .layout import zorder_arrange

            df = zorder_arrange(df, list(cluster_by), num_files=num_files)
        v = self.latest_version() + 1
        files = self._write_files(df)
        self._commit(v, files, "overwrite")
        return v

    def append(self, df: DataFrame, evolve: bool = False) -> int:
        """Append = old manifest's files + the new ones. No data file is
        read or rewritten — O(new data) regardless of table size.

        Schema must match the current version exactly (name+type, order
        ignored) — a drifted append would otherwise poison every future
        read of the mixed file set. With ``evolve=True``, *additive*
        evolution is allowed instead: the incoming frame may carry NEW
        columns (the reference's ``ALTER TABLE ADD COLUMN`` diff,
        revtron/database/main.py:129-140); existing columns must still
        type-match. Evolved tables read with parquet ``mergeSchema``
        (old files surface the new columns as NULL) — recorded in the
        manifest so every later snapshot read merges too."""
        base = self.latest_version()
        current = {(f.name, f.dataType) for f in self.read(base).schema.fields}
        incoming = {(f.name, f.dataType) for f in df.schema.fields}
        evolved = False
        if current != incoming:
            cur_by_name = dict(current)
            inc_by_name = dict(incoming)
            additive = (
                evolve
                and set(cur_by_name) <= set(inc_by_name)
                and all(inc_by_name[n] == t for n, t in cur_by_name.items())
            )
            if not additive:
                raise ValueError(
                    f"append schema mismatch: table has {sorted(cur_by_name)}, "
                    f"incoming {sorted(inc_by_name)}"
                    + ("" if evolve else " (pass evolve=True for additive columns)")
                )
            evolved = True
        files = self._manifest(base)["files"] + self._write_files(df)
        v = base + 1
        self._commit(v, files, "append", evolved=evolved or self._is_evolved(base))
        return v

    def _is_evolved(self, version: int) -> bool:
        return bool(self._manifest(version).get("evolved"))

    def _file_key_stats(self, rel_path: str, key: str):
        """(min, max, null count) of ``key`` across a file's row groups,
        straight from the parquet footer — no data read. ``min``/``max``
        are None when the file holds no non-NULL key; the whole result
        is None when a row group lacks the stats."""
        import pyarrow.parquet as pq

        md = pq.ParquetFile(str(Path(self.path) / rel_path)).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        if key not in idx:
            return None
        mins, maxs, nulls = [], [], 0
        for rg in range(md.num_row_groups):
            rg_md = md.row_group(rg)
            st = rg_md.column(idx[key]).statistics
            if st is None or not st.has_null_count:
                return None  # no stats → must treat as matched
            nulls += st.null_count
            if st.has_min_max:
                mins.append(st.min)
                maxs.append(st.max)
            elif st.null_count != rg_md.num_rows:
                return None  # non-NULL keys without bounds
        return (min(mins, default=None), max(maxs, default=None), nulls)

    def merge(
        self,
        source: DataFrame,
        keys: Sequence[str],
        overwrite_with_null: bool = False,
        observation: Observation | None = None,
    ) -> int:
        """Keyed upsert as a new version (snapshot-isolated: readers of
        older versions are untouched).

        **File-level pruning**: only files whose footer min/max range on
        ``keys[0]`` overlaps the source's key range are read and
        rewritten; disjoint files carry into the new version as-is (no
        read, no write). On a key-clustered table (sorted/bucketed/
        Z-ordered writes) a merge touching a narrow key band rewrites a
        narrow slice of the table — the Delta/Iceberg MERGE cost model.
        Keys match NULL-safely (as in :func:`upsert_merge`), so when the
        source holds a NULL ``keys[0]`` every file whose footer counts a
        NULL there is rewritten too. Files without usable stats are
        conservatively rewritten.

        ``observation``, when given, is filled by the write itself with
        the upserted keys (see :func:`observe_hits`).

        ``source`` is persisted for the duration of the merge: its key
        bounds (pruning) and its rows (the rewrite) are two separate
        actions, and a source that evaluated differently between them —
        ``rand()``, fresh ``sample()`` — could materialize keys in files
        that pruning classified as disjoint, committing duplicates."""
        return self._merge(source, keys, overwrite_with_null, observation, dedupe=True)

    def _merge(
        self,
        source: DataFrame,
        keys: Sequence[str],
        overwrite_with_null: bool = False,
        observation: Observation | None = None,
        dedupe: bool = False,
    ) -> int:
        """:meth:`merge`; ``dedupe=False`` is for a source already
        collapsed to one row per key (see ``upsert_merge``)."""
        import pyspark.sql.functions as F

        base = self.latest_version()
        evolved = self._is_evolved(base)
        all_files = self._manifest(base)["files"]
        k0 = keys[0]
        source = source.persist()
        try:
            s_lo, s_hi, s_nulls = source.agg(
                F.min(k0), F.max(k0), F.count_if(F.col(k0).isNull())
            ).first()

            matched, untouched = [], []
            for f in all_files:
                stats = self._file_key_stats(f, k0) if s_lo is not None or s_nulls else None
                if stats is None:
                    matched.append(f)
                    continue
                lo, hi, nulls = stats
                try:
                    overlaps = (
                        s_lo is not None and lo is not None and not (hi < s_lo or lo > s_hi)
                    )
                except TypeError:
                    # footer stats not comparable with the Spark-side bounds
                    # (e.g. binary columns) — conservatively rewrite the file
                    overlaps = True
                if overlaps or (s_nulls and nulls):
                    matched.append(f)
                else:
                    untouched.append(f)

            if matched:
                target = self._read_files(matched, evolved)
            else:
                # schema-only empty target: all source rows are inserts
                target = self.read(base).limit(0)
            merged = upsert_merge(
                target,
                source,
                keys,
                overwrite_with_null=overwrite_with_null,
                dedupe=dedupe,
                returning=observation is not None,
            )
            if observation is not None:
                merged = observe_hits(merged, observation, keys)
            files = untouched + self._write_files(merged)
            # untouched pre-evolution files may carry forward — keep the
            # evolved flag so reads keep merging schemas
            self._commit(base + 1, files, "merge", evolved=evolved)
        finally:
            source.unpersist()
        return base + 1

    def update(self, source: DataFrame, on: Sequence[str] | str) -> int:
        base = self.latest_version()
        files = self._write_files(keyed_update(self.read(base), source, on))
        self._commit(base + 1, files, "update")
        return base + 1

    def delete(self, predicate) -> int:
        base = self.latest_version()
        files = self._write_files(delete_where(self.read(base), predicate))
        self._commit(base + 1, files, "delete")
        return base + 1

    # -------------------------------------------------------------- reads

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot read: exactly the files of one manifest (time travel
        via ``version``). Never lists data directories — concurrent
        writers' uncommitted files are invisible by construction."""
        v = self.latest_version() if version is None else version
        m = self._manifest(v)
        if not m["files"]:
            raise FileNotFoundError(f"version {v} has no files")
        return self._read_files(m["files"], bool(m.get("evolved")))

    def _read_files(self, rel_paths: Sequence[str], evolved: bool) -> DataFrame:
        """Read data files of this table. An evolved version mixes pre-
        and post-evolution schemas, so Spark merges every footer's
        (without ``mergeSchema`` it infers from an arbitrary file and
        silently drops evolved columns). Otherwise all files share one
        schema, and the first file's footer gives it without the
        inference job (``io.footer_schema``)."""
        files = [str(Path(self.path) / f) for f in rel_paths]
        if evolved:
            return self.spark.read.option("mergeSchema", "true").parquet(*files)
        schema = footer_schema(files[0])
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(*files)

    # ----------------------------------------------------------- cleanup

    def vacuum(
        self,
        keep_last: int = 1,
        clean_orphans: bool = False,
        orphan_grace_seconds: float = 3600.0,
    ) -> list[str]:
        """Delete data files referenced ONLY by versions older than the
        ``keep_last`` most recent, then drop those manifests. Returns
        deleted file paths. Readers pinned to retained versions are
        unaffected (their files survive by definition).

        ``clean_orphans`` additionally removes data files referenced by
        NO manifest at all — the leftovers of commits that lost a
        ``CommitConflict`` race (their ``_write_files`` output is never
        referenced, so plain vacuum can never reclaim it). Only orphans
        older than ``orphan_grace_seconds`` are touched: a concurrent
        writer between its data write and its commit looks exactly like
        an orphan, and the grace window keeps it safe."""
        versions = self.history()
        keep = versions[-keep_last:]
        drop = [v for v in versions if v not in keep]
        live: set[str] = set()
        for v in keep:
            live.update(self._manifest(v)["files"])
        dead: set[str] = set()
        for v in drop:
            dead.update(f for f in self._manifest(v)["files"] if f not in live)
        if clean_orphans:
            referenced = set(live)
            for v in drop:
                referenced.update(self._manifest(v)["files"])
            now = time.time()
            for p in Path(self.path).glob("data-*/*.parquet"):
                rel = str(p.relative_to(self.path))
                if rel not in referenced and now - p.stat().st_mtime > orphan_grace_seconds:
                    dead.add(rel)
        deleted = []
        for f in sorted(dead):
            p = Path(self.path) / f
            if p.exists():
                p.unlink()
                deleted.append(f)
        for v in drop:
            (self._log_dir / _fmt_version(v)).unlink()
        # prune empty data dirs
        for d in Path(self.path).glob("data-*"):
            if d.is_dir() and not any(d.iterdir()):
                d.rmdir()
        return deleted
