"""Checkpointed, resumable partitioned table writer ("lakehouse-lite").

The north rule requires per-partition checkpointed/resumable outputs with
lineage.  On a real cluster this is an Iceberg table written with
``label(df).writeTo(table).overwritePartitions()`` — the commit log below
is exactly the piece Iceberg's snapshot metadata provides.  This sandbox
has no Iceberg runtime jar (no network), so the same semantics are built
from primitives that ship with Spark and pyarrow:

* data: one parquet file per url-hash bucket, ``bucket-<b>.parquet``, flat
  under the table root (the ``bucket`` column is stored IN the file).  Each
  wave is placed by ``pipeline.partitioning.place_buckets``: its buckets
  densely on ``min(len(wave), 2 × defaultParallelism)`` partitions, every
  bucket whole in one of them.  Each write task — a ``mapInArrow`` Python
  task — applies the caller's ``transform`` (run_batch's labeling) to its
  Arrow batches, splits each batch by bucket (a stable sort, so a bucket's
  rows keep their order), and writes each bucket with its own pyarrow
  ``ParquetWriter`` (the session's ``spark.sql.parquet.compression.codec``,
  row groups of up to ``_ROW_GROUP_BYTES`` of Arrow data, which also
  bounds what the task buffers over all its buckets) to
  ``_staging-*/bucket-<b>-a<taskAttemptId>.parquet``.  It yields one
  summary row per bucket: bucket, path, rows, bytes and the caller's
  ``metrics`` of the rows written.  The driver ``collect()``s the
  summaries and moves exactly the reported files to their final names with
  an atomic ``os.replace``; a file of a failed or duplicate task attempt
  has no summary and goes with the staging directory.  A killed run leaves
  its staging directory behind; the next run to take the writer lock
  removes it.  Re-processing a bucket is an **idempotent file
  replacement**, never a duplicate append.
* commit log: one JSON marker per completed bucket under ``_progress/``,
  written by the driver only *after* the wave's files are in place, with
  the bucket's rows, bytes and metrics row.  A marker is the unit of
  resume: buckets with markers are skipped on restart, buckets without are
  recomputed (their partial output, if any, is overwritten).  Per-bucket
  metrics are read from the markers (``bucket_metrics``), so no job reads
  the table back.

Why not Spark's own parquet writer: its per-task cost (the write job's
task binary, the commit protocol's files; ~100 ms a task at local[4]) is
paid on top of moving every labeled row from the Python worker back to the
JVM and encoding it there, while the Python task already holds the rows
in Arrow.  (``partitionBy("bucket")`` with dynamic partition overwrite
adds a serial per-directory re-link in the driver's commit on top.)

Why several buckets per task: a Python task costs ~45 ms beyond its
payload at local[4] (most of it waiting for the JVM's first Arrow
message), so one task per bucket paid that once per bucket — 64 times a
64-bucket run, 56 of them for empty partitions on a resume.

The output root must be a POSIX path that both the driver and the
executors can open: the tasks write the staged files and the driver
renames them.

Swap-in for Iceberg: write ``label(df).writeTo(table).overwritePartitions()``
per wave instead of ``_write_wave``, and read ``completed_buckets`` and the
metrics from the table's snapshot summaries; the pipeline code does not
change.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PROGRESS_DIR = "_progress"

# one row per written bucket; ``metrics`` is the JSON of the caller's row
_SUMMARY = "bucket int, path string, rows long, bytes long, metrics string"
# Dictionary-encode only columns whose values repeat within a bucket: a
# dictionary of unique values (url, text, the float signals) is pure
# overhead.  Statistics only on the bucket column, the one column readers
# prune on.
_DICT_MAX_DISTINCT = 0.25
# Row-group target in bytes of uncompressed Arrow data, which is also what
# a write task buffers.  The generated web text's labeled rows take 2.2x
# their parquet bytes in Arrow, so a row group is ~58 MiB encoded, where
# Spark's writer buffers up to 128 MiB (``parquet.block.size``).
_ROW_GROUP_BYTES = 128 << 20


def _identity(rb):
    return rb


class _NoMetrics:
    """The default ``metrics`` fold: no row."""

    def add(self, rb) -> None:
        pass

    def row(self) -> None:
        return None


def _split_by_bucket(rb, bucket_col: str) -> list:
    """``[(bucket, rows)]`` of one Arrow batch, each bucket's rows in batch
    order (a stable argsort).  Each part is its own ``take``, not a slice
    of one sorted copy: a buffered part then holds only its own bytes."""
    import numpy as np
    import pyarrow as pa

    col = rb.column(bucket_col)
    if col.null_count:
        raise RuntimeError(f"a write task got rows with no {bucket_col}")
    ids = col.to_numpy()
    if (ids == ids[0]).all():
        return [(int(ids[0]), rb)]
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    starts = np.flatnonzero(np.r_[True, ids[1:] != ids[:-1]])
    ends = np.r_[starts[1:], len(ids)]
    return [
        (int(ids[a]), rb.take(pa.array(order[a:b])))
        for a, b in zip(starts, ends)
    ]


class _BucketFile:
    """One bucket's staged parquet file in a write task: its rows buffered
    into row groups (``flush``) — ``write_batch`` per Arrow batch would
    start a row group every ``maxRecordsPerBatch`` rows, where Spark's
    writer fills them up to ``parquet.block.size`` (128 MiB) — and the
    caller's ``metrics`` folded over the rows written."""

    def __init__(
        self, staging: str, bucket: int, attempt: int, compression: str,
        bucket_col: str, metrics: Callable,
    ):
        self.bucket, self.bucket_col = bucket, bucket_col
        self.path = os.path.join(staging, f"bucket-{bucket}-a{attempt}.parquet")
        self.compression = compression
        self.metrics = metrics()
        self.rows = self.buffered = 0
        self._buffer, self._writer = [], None

    def add(self, rb) -> None:
        self._buffer.append(rb)
        self.buffered += rb.nbytes
        self.rows += rb.num_rows
        self.metrics.add(rb)

    def flush(self) -> None:
        """Write the buffered batches as one row group."""
        import pyarrow as pa

        if not self._buffer:
            return
        table = pa.Table.from_batches(self._buffer)
        if self._writer is None:
            self._open(table)
        table = pa.Table.from_arrays(table.columns, schema=self._writer.schema)
        self._writer.write_table(table, row_group_size=table.num_rows)
        self._buffer, self.buffered = [], 0

    def _open(self, table) -> None:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        # the first row group decides which columns repeat enough for a
        # dictionary
        repeats = [
            f.name
            for f, col in zip(table.schema, table.columns)
            if not (pa.types.is_floating(f.type) or pa.types.is_nested(f.type))
            and pc.count_distinct(col).as_py()
            <= _DICT_MAX_DISTINCT * table.num_rows
        ]
        # every column nullable, as Spark's writer stores them
        schema = pa.schema([f.with_nullable(True) for f in table.schema])
        self._writer = pq.ParquetWriter(
            self.path,
            schema,
            compression=self.compression,
            use_dictionary=repeats,
            write_statistics=[self.bucket_col],
            store_schema=False,
        )

    def close(self) -> int:
        """Close the file, without writing what is still buffered; its
        size in bytes (0 if it was never opened)."""
        if self._writer is None:
            return 0
        self._writer.close()
        return os.path.getsize(self.path)


class _StagedFiles:
    """A write task's staged files, one ``_BucketFile`` per bucket it
    meets, whose buffers together hold at most ``_ROW_GROUP_BYTES`` of
    Arrow data: a batch that would pass that first flushes the largest
    buffer, so a task's memory does not grow with its buckets."""

    def __init__(
        self, staging: str, bucket_col: str, attempt: int, compression: str,
        metrics: Callable,
    ):
        self.staging, self.bucket_col, self.attempt = staging, bucket_col, attempt
        self.compression, self.metrics = compression, metrics
        self.files: dict[int, _BucketFile] = {}

    def write(self, rb) -> None:
        for bucket, part in _split_by_bucket(rb, self.bucket_col):
            out = self.files.get(bucket)
            if out is None:
                out = self.files[bucket] = _BucketFile(
                    self.staging, bucket, self.attempt, self.compression,
                    self.bucket_col, self.metrics,
                )
            buffered = sum(f.buffered for f in self.files.values())
            while buffered and buffered + part.nbytes > _ROW_GROUP_BYTES:
                largest = max(self.files.values(), key=lambda f: f.buffered)
                buffered -= largest.buffered
                largest.flush()
            out.add(part)

    def flush(self) -> None:
        for out in self.files.values():
            out.flush()

    def close(self) -> dict[int, int]:
        """Close every file (see ``_BucketFile.close``); bucket → size."""
        return {b: out.close() for b, out in self.files.items()}


def _write_task(
    batches: Iterator,
    staging: str,
    bucket_col: str,
    transform: Callable,
    metrics: Callable,
    compression: str,
) -> Iterator:
    """One write task: ``transform`` each Arrow batch of the partition,
    write each bucket's rows to its staged file and yield one ``_SUMMARY``
    row per bucket with its ``metrics`` row.  A partition without rows
    yields nothing; a failed task yields nothing either, and the driver
    drops its files with the staging directory."""
    import pyarrow as pa
    from pyspark import TaskContext

    attempt = TaskContext.get().taskAttemptId()
    out = _StagedFiles(staging, bucket_col, attempt, compression, metrics)
    try:
        for rb in batches:
            rb = transform(rb)
            if rb.num_rows:
                out.write(rb)
        out.flush()
    finally:
        sizes = out.close()
    files = list(out.files.values())
    if files:
        yield pa.RecordBatch.from_pydict(
            {
                "bucket": pa.array([f.bucket for f in files], pa.int32()),
                "path": [f.path for f in files],
                "rows": pa.array([f.rows for f in files], pa.int64()),
                "bytes": pa.array([sizes[f.bucket] for f in files], pa.int64()),
                "metrics": [json.dumps(f.metrics.row()) for f in files],
            }
        )


class CheckpointedWriter:
    def __init__(
        self,
        base_path: str,
        n_buckets: int,
        bucket_col: str = "bucket",
        schema_tag: str = "",
        fingerprint: dict | None = None,
    ):
        self.base_path = base_path
        self.n_buckets = n_buckets
        self.bucket_col = bucket_col
        self._progress_path = os.path.join(base_path, PROGRESS_DIR)
        os.makedirs(self._progress_path, exist_ok=True)
        # Resuming with a different bucketing would silently mix two
        # partitionings in one table — refuse instead.  ``schema_tag``
        # extends the same guard to caller-level options that change the
        # OUTPUT SCHEMA (e.g. run_batch's multimodal flag): toggling one
        # mid-table would commit buckets with two different column sets,
        # and a plain (non-mergeSchema) read would then silently drop or
        # null the extra columns depending on which footer wins.
        # ``fingerprint`` (JSON values by name, e.g. run_batch's
        # thresholds) extends it to options that change the rows: a
        # resume under other thresholds would commit buckets labeled two
        # ways.  A writer without one checks none.
        if fingerprint is not None:
            fingerprint = json.loads(json.dumps(fingerprint))
        meta_path = os.path.join(self._progress_path, "_meta.json")
        if os.path.exists(meta_path):
            meta = json.load(open(meta_path))
            # a checkpoint written before a guard existed: its value is
            # unknown, so accept this resume and RECORD the caller's — the
            # guard becomes effective from here on instead of refusing
            # every pre-upgrade in-flight table
            legacy = {"schema_tag": schema_tag, "fingerprint": fingerprint}
            legacy = {
                k: v for k, v in legacy.items() if k not in meta and v is not None
            }
            if legacy:
                meta.update(legacy)
                with open(meta_path, "w") as f:
                    json.dump(meta, f)
            if (
                meta["n_buckets"] != n_buckets
                or meta["bucket_col"] != bucket_col
                or meta.get("schema_tag", "") != schema_tag
            ):
                raise ValueError(
                    f"checkpoint at {base_path} was written with "
                    f"{meta['n_buckets']} buckets on '{meta['bucket_col']}' "
                    f"(schema_tag={meta.get('schema_tag', '')!r}), got "
                    f"{n_buckets} on '{bucket_col}' "
                    f"(schema_tag={schema_tag!r}) — use a fresh path "
                    f"or matching config"
                )
            if fingerprint is not None:
                old = meta["fingerprint"]
                differ = sorted(
                    k for k in old.keys() | fingerprint.keys()
                    if old.get(k) != fingerprint.get(k)
                )
                if differ:
                    was = {k: old.get(k) for k in differ}
                    got = {k: fingerprint.get(k) for k in differ}
                    raise ValueError(
                        f"checkpoint at {base_path} was written with {was}, "
                        f"got {got} (keys {differ} differ) — use a fresh "
                        f"path or matching config"
                    )
        else:
            meta = {
                "n_buckets": n_buckets,
                "bucket_col": bucket_col,
                "schema_tag": schema_tag,
            }
            if fingerprint is not None:
                meta["fingerprint"] = fingerprint
            with open(meta_path, "w") as f:
                json.dump(meta, f)

    # ---- commit log -------------------------------------------------
    def completed_buckets(self) -> set[int]:
        out = set()
        for name in os.listdir(self._progress_path):
            if name.startswith("bucket-") and name.endswith(".json"):
                out.add(int(name[len("bucket-") : -len(".json")]))
        return out

    def pending_buckets(self) -> list[int]:
        done = self.completed_buckets()
        return [b for b in range(self.n_buckets) if b not in done]

    def _commit(self, bucket: int, lineage: dict) -> None:
        marker = os.path.join(self._progress_path, f"bucket-{bucket}.json")
        # a tmp name of our own: bucket_metrics may rewrite an old marker
        # while another run does the same, outside the writer lock
        tmp = f"{marker}.{os.getpid()}.{threading.get_ident()}.tmp"
        with open(tmp, "w") as f:
            json.dump(lineage, f)
        os.replace(tmp, marker)  # atomic on POSIX

    # ---- write ------------------------------------------------------
    def _bucket_file(self, bucket: int) -> str:
        return os.path.join(self.base_path, f"bucket-{bucket:05d}.parquet")

    def _marker(self, bucket: int) -> dict:
        with open(os.path.join(self._progress_path, f"bucket-{bucket}.json")) as f:
            return json.load(f)

    def _write_wave(
        self, wave_df: DataFrame, wave: list[int], transform, metrics
    ) -> dict[int, dict]:
        """One Spark action: every task writes the staged files of its
        buckets (``_write_task``), then the driver renames exactly the
        files the collected summaries report — bucket identity comes from
        each file's rows, not its task index, and a bucket reported by two
        tasks (rows placed in two partitions) fails the wave before any
        rename.  Returns the rows, bytes and metrics of each wave bucket;
        an empty bucket gets the metrics of no rows and loses any file a
        crashed run left.  A crash between renames re-runs the wave;
        os.replace is idempotent."""
        staging = os.path.join(self.base_path, f"_staging-{os.getpid()}-{wave[0]}")
        os.makedirs(staging, exist_ok=True)
        bucket_col = self.bucket_col
        codec = wave_df.sparkSession.conf.get(
            "spark.sql.parquet.compression.codec", "snappy"
        ).lower()
        # Spark's codec names where pyarrow's differ
        compression = {"uncompressed": "none", "lz4_raw": "lz4"}.get(codec, codec)

        def write_buckets(batches):
            return _write_task(
                batches, staging, bucket_col, transform, metrics, compression
            )

        wave_set = set(wave)
        try:
            summaries = wave_df.mapInArrow(write_buckets, _SUMMARY).collect()
            written = {}
            for s in summaries:
                if s.bucket not in wave_set:
                    raise RuntimeError(
                        f"a task wrote bucket {s.bucket}, outside the wave "
                        f"{sorted(wave_set)} — wave filter broke"
                    )
                if s.bucket in written:
                    raise RuntimeError(
                        f"bucket {s.bucket} was written by two tasks — its "
                        "rows lie in two partitions of the placed input"
                    )
                written[s.bucket] = s
            for b, s in written.items():
                os.replace(s.path, self._bucket_file(b))
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        out = {}
        for b in wave:
            s = written.get(b)
            if s is None:  # no rows: drop what a crashed run may have left
                if os.path.exists(self._bucket_file(b)):
                    os.remove(self._bucket_file(b))
                out[b] = {"rows": 0, "bytes": 0, "metrics": metrics().row()}
            else:
                out[b] = {"rows": s.rows, "bytes": s.bytes,
                          "metrics": json.loads(s.metrics)}
        return out

    def bucket_metrics(self, metrics: Callable) -> dict[int, dict]:
        """Each committed bucket's metrics row, as its marker stores it.  A
        marker without one (committed before markers carried metrics) gets
        the ``metrics`` fold of the bucket's file, computed once and
        stored."""
        import pyarrow.parquet as pq

        out = {}
        for b in sorted(self.completed_buckets()):
            marker = self._marker(b)
            if marker.get("metrics") is None:
                acc = metrics()
                path = self._bucket_file(b)
                if os.path.exists(path):
                    with pq.ParquetFile(path) as f:
                        for rb in f.iter_batches():
                            acc.add(rb)
                marker["metrics"] = acc.row()
                self._commit(b, marker)
            out[b] = marker["metrics"]
        return out

    def write_resumable(
        self,
        df: DataFrame,
        wave_size: int | None = None,
        on_wave: Callable[[list[int]], None] | None = None,
        assume_placed: bool = False,
        transform: Callable | None = None,
        metrics: Callable | None = None,
    ) -> dict:
        """Write ``df`` (which must carry ``bucket_col``) skipping buckets
        already committed, committing markers per wave.

        ``transform(rb) -> rb`` runs on each Arrow batch inside the write
        task, before the write (identity by default; run_batch labels
        there).  ``metrics()`` makes a fold with ``add(rb)`` and ``row()``:
        each bucket's fold gets the rows written to it, batch by batch, and
        its ``row()`` is stored in the bucket's marker (``bucket_metrics``
        reads it back); no row by default.

        The writer places each wave itself
        (``pipeline.partitioning.place_buckets``: the wave's buckets
        densely on ``min(len(wave), 2 × defaultParallelism)`` partitions).
        ``assume_placed=True`` promises instead that each bucket's rows
        already lie in one partition of ``df``; a bucket found in two
        fails the wave.

        ``wave_size`` trades checkpoint granularity against job count: one
        wave = one Spark action over ``wave_size`` buckets.  With the default
        (all pending buckets in a single action) a crash loses at most one
        wave of work; per-bucket markers still make resume exact.
        """
        pending = self.pending_buckets()
        stats: dict = {"skipped": self.n_buckets - len(pending), "written": 0}
        if not pending:
            return stats
        self._acquire_lock()
        try:
            self._collect_staging()
            return self._write_pending(
                df, pending, stats, wave_size, on_wave, assume_placed,
                transform or _identity, metrics or _NoMetrics,
            )
        finally:
            self._release_lock()

    def _collect_staging(self) -> None:
        """Remove the staging directories of other runs.  Only the lock
        holder calls this: the lock proves their writers are gone, and a
        killed run never reaches the ``rmtree`` of its own."""
        own = f"_staging-{os.getpid()}-"
        for name in os.listdir(self.base_path):
            if name.startswith("_staging-") and not name.startswith(own):
                shutil.rmtree(os.path.join(self.base_path, name),
                              ignore_errors=True)

    # writer lock: two resumable runs racing on one output root would
    # interleave staged files and commit markers; the loser must fail
    # FAST with a clear message, not corrupt the table.  The lock file
    # carries (pid, heartbeat); a lock whose heartbeat is older than
    # ``stale_after`` seconds belongs to a dead run and is taken over.
    LOCK_STALE_AFTER = 3600.0

    @property
    def _lock_path(self) -> str:
        return os.path.join(self._progress_path, "_writer.lock")

    # timestamp of our own last successful lock write; 0.0 (never) makes a
    # heartbeat without a prior acquire abort, which is the right default
    _last_hb: float = 0.0

    def _try_create_lock(self) -> bool:
        payload = json.dumps({"pid": os.getpid(), "ts": time.time()})
        try:
            fd = os.open(self._lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            with os.fdopen(fd, "w") as f:
                f.write(payload)
            self._last_hb = time.time()
            return True
        except FileExistsError:
            return False

    def _read_lock(self) -> dict:
        try:
            with open(self._lock_path) as f:
                return json.load(f)
        except (json.JSONDecodeError, OSError, FileNotFoundError):
            return {"pid": "?", "ts": 0}

    def _lock_is_stale(self, held: dict) -> bool:
        # pid-liveness first: a crash-killed run must be resumable
        # IMMEDIATELY, not after the heartbeat ages out (the lock file
        # is driver-local, so the pid namespace is ours); heartbeat
        # age is the fallback for a live-but-hung holder.
        holder_alive = False
        try:
            os.kill(int(held.get("pid", -1)), 0)
            holder_alive = True
        except (ProcessLookupError, ValueError, TypeError):
            holder_alive = False
        except PermissionError:  # pragma: no cover - exists, other user
            holder_alive = True
        fresh = time.time() - held.get("ts", 0) < self.LOCK_STALE_AFTER
        return not (holder_alive and fresh)

    def _acquire_lock(self, attempts: int = 3) -> None:
        guard = self._lock_path + ".takeover"
        for _ in range(attempts):
            if self._try_create_lock():
                return
            held = self._read_lock()
            if not self._lock_is_stale(held):
                raise RuntimeError(
                    f"another writer (pid {held.get('pid')}) holds the lock "
                    f"on {self.base_path} — concurrent resumable writes to "
                    "one output root would corrupt the table; wait for it "
                    f"or remove {self._lock_path} if that run is known dead"
                )
            # Stale takeover must be serialized, or two racers that both
            # read the stale lock can each unlink-then-create and one ends
            # up deleting the other's *fresh* lock (TOCTOU).  A guard file
            # (O_EXCL) makes removal + re-create a critical section: only
            # the guard holder may unlink the lock, and it re-verifies
            # staleness *inside* the section before doing so.
            try:  # a guard left by a crashed takeover ages out in 60 s.
                # Claim-by-rename, then delete: two waiters that both see
                # the stale guard cannot both remove it (the second rename
                # gets FileNotFoundError), so only one proceeds to the
                # O_EXCL create below in this round — a bare
                # check-then-remove would let both "win" the guard.
                if time.time() - os.path.getmtime(guard) > 60.0:
                    dead = f"{guard}.dead.{os.getpid()}"
                    os.rename(guard, dead)
                    os.remove(dead)
            except OSError:
                pass
            try:
                os.close(os.open(guard, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
            except FileExistsError:
                time.sleep(0.05)  # another racer is mid-takeover; re-read
                continue
            try:
                if self._lock_is_stale(self._read_lock()):
                    try:
                        os.remove(self._lock_path)
                    except FileNotFoundError:
                        pass
                    if self._try_create_lock():
                        return
            finally:
                try:
                    os.remove(guard)
                except OSError:
                    pass
        raise RuntimeError(
            f"could not acquire writer lock at {self._lock_path} after "
            f"{attempts} takeover attempts (heavy lock contention)"
        )

    def _heartbeat(self) -> None:
        """Refresh the lock heartbeat (called per wave) so a healthy
        long run is never mistaken for a hung one and taken over.
        Write-to-temp + ``os.replace`` keeps the refresh atomic: a
        truncating ``open('w')`` would expose an empty/partial file to a
        concurrent ``_acquire_lock`` read, which would parse-fail to
        ts=0, judge us stale, and take over while we are alive.

        Ownership is verified first: a holder that stalled past
        LOCK_STALE_AFTER without dying may have been legitimately taken
        over — blindly replacing the new holder's lock on wake-up would
        reinstate a split-brain dual writer.  Losing the lock aborts the
        run (RuntimeError) instead.

        Two refinements close the check's own failure modes: (1) a
        TRANSIENT read failure (parse-fail sentinel pid='?') skips this
        refresh rather than aborting an hours-long healthy run — a real
        takeover writes a valid pid and is caught on the next wave; (2)
        staleness is judged from the in-memory timestamp of our own last
        successful refresh, with a safety margin, BEFORE touching the
        file: takeover is only possible once our heartbeat is stale, so
        a fresh-by-our-own-clock holder can replace without a
        read-then-replace race (no POSIX compare-and-swap exists; the
        residual window requires stalling for the rest of the horizon
        between this check and os.replace, microseconds of code)."""
        now = time.time()
        if now - self._last_hb > self.LOCK_STALE_AFTER * 0.9:
            raise RuntimeError(
                f"writer on {self.base_path} went {now - self._last_hb:.0f}s "
                "without a heartbeat — another run may have legitimately "
                "taken the lock over; aborting instead of racing it"
            )
        held = self._read_lock()
        if held.get("pid") == "?":
            return  # unreadable lock file: skip refresh, re-check next wave
        if held.get("pid") != os.getpid():
            raise RuntimeError(
                f"writer lock on {self.base_path} was taken over by pid "
                f"{held.get('pid')} (this run stalled past the "
                f"{self.LOCK_STALE_AFTER:.0f}s staleness horizon) — "
                "aborting to avoid two concurrent writers"
            )
        tmp = f"{self._lock_path}.hb.{os.getpid()}"
        with open(tmp, "w") as f:
            f.write(json.dumps({"pid": os.getpid(), "ts": time.time()}))
        os.replace(tmp, self._lock_path)
        self._last_hb = time.time()

    def _release_lock(self) -> None:
        # only delete a lock we still own — if a (mistaken or raced)
        # takeover replaced it, deleting would strip the NEW holder
        try:
            held = json.load(open(self._lock_path))
            if held.get("pid") == os.getpid():
                os.remove(self._lock_path)
        except (FileNotFoundError, json.JSONDecodeError, OSError):
            pass

    def _write_pending(
        self,
        df: DataFrame,
        pending: list[int],
        stats: dict,
        wave_size: int | None,
        on_wave,
        assume_placed: bool,
        transform: Callable,
        metrics: Callable,
    ) -> dict:
        from packs_spark.pipeline.partitioning import place_buckets

        wave_size = wave_size or len(pending)
        for i in range(0, len(pending), wave_size):
            wave = pending[i : i + wave_size]
            if len(wave) == self.n_buckets:
                # fresh run, single wave: every bucket pending — the
                # membership filter would be a per-row no-op (and a wide
                # InSet), skip it entirely
                wave_df = df
            else:
                wave_df = df.where(F.col(self.bucket_col).isin(wave))
            if not assume_placed:
                wave_df = place_buckets(wave_df, wave, bucket_col=self.bucket_col)
            t0 = time.time()
            written = self._write_wave(wave_df, wave, transform, metrics)
            elapsed = time.time() - t0
            for b in wave:
                self._commit(
                    b,
                    {
                        "bucket": b,
                        "committed_at_unix": time.time(),
                        "wave": wave,
                        "wave_seconds": elapsed,
                        **written[b],
                    },
                )
            stats["written"] += len(wave)
            self._heartbeat()
            if on_wave:
                on_wave(wave)
        return stats

    def read(self, spark) -> DataFrame:
        return spark.read.parquet(self.base_path)
