"""Atomic mart persistence — manifest-committed parquet versions (M4).

The reference gets transactional visibility from a single PostgreSQL
``conn.commit()`` covering insert+upsert+delete (dag:322). Plain parquet
overwrite has no such point of atomicity: a crash mid-overwrite leaves a
half-written table. This module supplies the minimal table-format core that
Delta/Iceberg build on — write-new-version-then-swap-one-pointer:

1. the merged mart lands in a FRESH directory ``data/<version>/`` (never
   touching the live one);
2. a manifest file naming that directory is written aside and moved into
   place with ``os.replace`` — one atomic POSIX rename *is* the commit;
3. superseded version directories are garbage-collected only after the
   swap (and a crash between 2 and 3 merely leaks a directory for the next
   ``vacuum`` — readers are unaffected).

A reader resolves the manifest first, so at every instant it sees exactly
one fully-written version: before the rename the old one, after it the new
one. Re-running a crashed batch is safe at every cut point — the data dir
is keyed by run id, so the retry overwrites the orphan and commits. A
committed version is never rewritten in place: re-committing it (a retry
after the swap) writes ``data.alt/<version>/`` — or back to ``data/`` when
the live copy is the alternate one — and the manifest names which root
holds the rows.

At 100 TB the same pattern holds with two adjustments: the rename must be
on a filesystem with atomic rename (HDFS/ABFS yes; S3 needs a
pointer-object PUT, which is equally atomic), and vacuum runs asynchronously.
Production deployments should prefer Delta/Iceberg, which add concurrent
writers and snapshot history on top of exactly this commit protocol
(delta-spark is absent in this container — verified ModuleNotFoundError).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

MANIFEST = "_MANIFEST"
HISTORY = "_HISTORY"
DATA_DIR = "data"
ALT_DATA_DIR = "data.alt"  # where a committed version is re-committed


def _parse(entry: str) -> tuple[str, str]:
    """A manifest/history entry ``version<TAB>root``; a one-field entry,
    as older marts wrote them, lives under ``data``."""
    version, _, root = entry.partition("\t")
    return version, root or DATA_DIR


class VersionedMart:
    """A parquet table whose visible version is one atomic pointer swap.

    ``_HISTORY`` records the committed-version sequence (rewritten
    atomically on each commit), which buys the two snapshot features the
    lakehouse formats layer on this protocol: ``read(version=...)`` time
    travel over retained versions and ``vacuum(keep=N)`` retention.
    Single-writer by design — concurrent writers need the real formats.
    """

    def __init__(self, root: str) -> None:
        self.root = Path(root)

    # -- commit protocol ----------------------------------------------------

    def _write_version(self, df: DataFrame, version: str) -> Path:
        """Step 1 — materialize a version directory. NOT yet visible.

        Never the directory a committed ``version`` already lives in: a
        re-commit goes to the other data root, so a crash or a failed
        write here cannot damage rows the manifest names."""
        live = self._location(version)
        root = ALT_DATA_DIR if live is not None and live.parent.name == DATA_DIR else DATA_DIR
        target = self.root / root / version
        df.write.mode("overwrite").parquet(str(target))
        return target

    def _swap_manifest(self, version: str, root: str) -> None:
        """Step 2 — THE commit: one atomic rename of the pointer file."""
        tmp = self.root / f"{MANIFEST}.tmp"
        tmp.write_text(f"{version}\t{root}\n")
        os.replace(tmp, self.root / MANIFEST)

    def _append_history(self, version: str, root: str) -> None:
        """Step 2b — record the commit order (atomic whole-file rewrite;
        a crash before this leaves the version readable but unlisted, and
        the next commit of the same version repairs the log — advisory
        metadata, never the source of visibility truth)."""
        entries = [e for e in self._entries() if e[0] != version] + [(version, root)]
        tmp = self.root / f"{HISTORY}.tmp"
        tmp.write_text("".join(f"{v}\t{r}\n" for v, r in entries))
        os.replace(tmp, self.root / HISTORY)

    def commit(
        self,
        df: DataFrame,
        version: str,
        vacuum: bool = True,
        keep: int = 1,
        check: Callable[[DataFrame], None] | None = None,
    ) -> str:
        """Write ``df`` as ``version`` and atomically make it current.

        Idempotent per version: a retry after any crash point writes the
        version again, never over the published copy, and swaps again.
        ``keep`` retains that many latest committed versions through the
        post-commit vacuum (keep > 1 enables :meth:`read` time travel).
        Returns the committed version.

        ``check`` gates publication: it runs between step 1 and step 2 on
        the written, still unpublished version (read back with ``df``'s
        schema, so it costs no schema-inference job), and an exception from
        it propagates before the manifest swap. That is the crash-before-
        swap state: the previous version stays current and the orphan
        directory is reclaimed by the next commit's vacuum. The read is
        lazy, so a check that gates only on what ran with the write (an
        ``Observation`` on ``df``, a job on another thread) costs no job.
        """
        target = self._write_version(df, version)
        if check is not None:
            check(self._read_dir(df.sparkSession, target, df.schema))
        self._swap_manifest(version, target.parent.name)
        self._append_history(version, target.parent.name)
        if vacuum:
            self.vacuum(keep=keep)
        return version

    # -- read side ----------------------------------------------------------

    def _current(self) -> tuple[str, str] | None:
        mf = self.root / MANIFEST
        if not mf.exists():
            return None
        entry = mf.read_text().strip()
        return _parse(entry) if entry else None

    def _entries(self) -> list[tuple[str, str]]:
        hf = self.root / HISTORY
        if not hf.exists():
            return []
        return [_parse(e) for e in hf.read_text().splitlines() if e]

    def _location(self, version: str) -> Path | None:
        """The directory holding committed ``version``: the manifest's
        entry if it is current, else its history entry."""
        for entry in (self._current(), *reversed(self._entries())):
            if entry is not None and entry[0] == version:
                return self.root / entry[1] / version
        return None

    def current_version(self) -> str | None:
        entry = self._current()
        return entry[0] if entry else None

    def history(self) -> list[str]:
        """Committed versions, oldest first (advisory log)."""
        return [v for v, _ in self._entries()]

    def available_versions(self) -> list[str]:
        """History entries whose data directories survived vacuum."""
        return [v for v, root in self._entries() if (self.root / root / v).exists()]

    def read(
        self,
        spark: SparkSession,
        version: str | None = None,
        schema: StructType | None = None,
    ) -> DataFrame:
        """Read the current version, or time-travel to a retained one.

        A caller that knows the table's ``schema`` passes it to skip the
        parquet schema-inference job."""
        version = version or self.current_version()
        if version is None:
            raise FileNotFoundError(f"no committed version under {self.root}")
        target = self._location(version) or self.root / DATA_DIR / version
        if not target.exists():
            raise FileNotFoundError(
                f"version {version!r} not available (vacuumed or never "
                f"committed); retained: {self.available_versions()}"
            )
        return self._read_dir(spark, target, schema)

    @staticmethod
    def _read_dir(spark: SparkSession, target: Path, schema: StructType | None) -> DataFrame:
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(str(target))

    # -- maintenance --------------------------------------------------------

    def vacuum(self, keep: int = 1) -> list[str]:
        """Step 3 — drop version dirs beyond the ``keep`` latest committed
        (the manifest's current version is always retained).

        Safe at any time: the referenced version is never touched, and a
        concurrent reader that already resolved the manifest holds the
        current version by definition. Orphan dirs from crashed
        pre-commit writes are reclaimed too (they are absent from the
        history, so they never count toward ``keep``).
        """
        current = self._current()
        retained = {self.root / r / v for v, r in self._entries()[-max(keep, 1):]}
        if current:
            retained.add(self.root / current[1] / current[0])
        removed = []
        for base in (DATA_DIR, ALT_DATA_DIR):
            if not (self.root / base).exists():
                continue
            for d in (self.root / base).iterdir():
                if d.is_dir() and d not in retained:
                    shutil.rmtree(d)
                    removed.append(d.name)
        return removed
