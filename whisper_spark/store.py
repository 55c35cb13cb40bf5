"""WhisperStore — the engine's storage layer.

Whisper keeps one ring-buffer file per metric (reference: whisper.py:20-26).
We keep ONE long-format dataset for any number of metrics sharing a policy
(the analog of a carbon storage-schemas rule):

    <path>/policy.json                  # header analog (agg method, xff, archives)
    <path>/points/resolution=R/tb=B/    # parquet, partitioned by resolution + time bucket

Schema: ``metric STRING, ts LONG (epoch s, step-aligned), value DOUBLE,
wseq LONG`` with partition columns ``resolution LONG, tb LONG``.

Design decisions (the 100 TB story):

* **Append-only writes + one read-time slot rule.**  Whisper overwrites
  ring slots in place; a distributed store that rewrote partitions per
  update would be unusable at scale.  Instead every batch appends rows
  stamped with a monotonically increasing ``wseq`` (batch id), and
  readers apply whisper's slot rule (``_ring_visible``): rows whose ts
  share a ring slot (``pmod(ts, span)``) are reduced to the one with the
  largest ``(wseq, ts)`` — last-write-wins and ring eviction (reference:
  whisper.py:842-856) in one aggregate, ``max(struct(wseq, ts, value))``.
  A struct buffer is not hash-aggregable, so it plans as a
  ``SortAggregate`` with a ``Sort`` on each side of its ``Exchange``
  (partial max before the shuffle, final max after), not a window.
  ``compact()`` amortizes the dedup (LSM compaction),
  ``delete_expired()`` replaces the ring-buffer's implicit retention.
* **Partition pruning replaces O(1) ring addressing** (reference:
  whisper.py:721-724,992-1001).  ``resolution`` is a partition column, and
  ``tb = ts // (step * TB_SLOTS)`` buckets time so a read covers only the
  slices holding its range and the range's ring colliders
  (``_collider_where``: the range, later ts, and the range one span
  back), regardless of total table size.
* **A fetch is one aggregate.**  The slot rule runs over the scanned
  rows unioned with a spine row ``(metric, ts, NULL, wseq -1)`` per
  requested series and window slot: a slot whose only row is its spine
  row is a gap.  One exchange, no join, no broadcast (an all-series
  fetch hashes both union sides on ``metric`` instead, see
  ``_fetch_archive_dense``).  A window clamped to the archive's
  retention is at most one span wide, so each window ts owns exactly
  one slot and the slot's winner decides that ts alone.
* **Rollups are set-based, and a batch commits once.**  Whisper
  propagates one interval at a time (reference: whisper.py:578-664); we
  recompute all touched lower intervals per level with one ``groupBy``
  and build the whole cascade as one plan over the stored rows plus the
  batch's in-flight rows.  One append per batch writes the points and
  every rollup together, so a failed batch writes nothing.
* **One points writer, rebalanced on (resolution, tb).**  Appends and
  ``compact()`` both go through ``_write_points``: a ``rebalance`` hint on
  the partition columns lets AQE size the write tasks from the real
  shuffle bytes, so a write leaves one file per bucket, and a hot bucket
  larger than ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` is
  split across tasks.  That sizing needs ``spark.sql.adaptive.enabled``;
  with AQE off the hint is a plain hash repartition into
  ``spark.sql.shuffle.partitions``, and each bucket is written by one task
  whatever its size.

Semantics parity notes (validated by differential tests against the
reference library in tests/test_store_parity.py):

* single-point ``update`` rejects future and beyond-retention timestamps
  (reference: whisper.py:691-696); bulk ``update_many`` silently drops
  points older than maxRetention and *accepts* future points (reference:
  whisper.py:767-789 — the age test never rejects age < 0).
* within one bulk batch, duplicate aligned intervals resolve to the point
  with the greatest raw timestamp, ties to the EARLIEST submitted
  (reference: whisper.py:749+806-808 — newest-first stable sort, then
  reversed, keep last of run).  Across batches, later batches win.
  A batch's direct write into archive j takes the slot from the same
  batch's rollup into it (reference: whisper.py:767-789 — archives are
  committed, each with its propagation, in precision order).
* the rollup cascade from each written archive stops at the first level
  where none of its intervals passed the xFilesFactor gate (reference:
  whisper.py:869-875); a gated-out recompute leaves any previously
  written lower value in place (no tombstone — exactly whisper's
  "don't write" behavior).
* concurrent writers are safe on one host: wseq allocation, the cascade
  and the append run under a per-store flock — the reference's LOCK
  analog (whisper.py:98-104,683-684).  See ``_fs_lock`` /
  ``_write_assigned`` for why lock order must equal wseq order, and
  tests/test_concurrency.py for the differential evidence.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from contextlib import contextmanager
from functools import partial, reduce
from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

import struct as _struct

from .aggregation import validate_aggregation_method
from .errors import (
    CorruptWhisperFile,
    InvalidConfiguration,
    InvalidTimeInterval,
    InvalidXFilesFactor,
    TimestampNotCovered,
)
from .functions.timeseries import (
    align_ts,
    last_write_wins,
    select_archive,
    xff_rollup,
)
from .retention import ArchiveSpec, parse_retention_defs

#: slots per time-bucket partition; at 1 s resolution one bucket ≈ 68 min
#: of data, at 1 d resolution ≈ 11 years — keeps partition counts sane at
#: both extremes while still enabling range pruning.
TB_SLOTS = 4096

POINTS_SCHEMA = T.StructType(
    [
        T.StructField("metric", T.StringType(), False),
        T.StructField("resolution", T.LongType(), False),
        T.StructField("tb", T.LongType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("wseq", T.LongType(), False),
    ]
)

INPUT_SCHEMA = T.StructType(
    [
        T.StructField("metric", T.StringType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("seq", T.LongType(), True),
    ]
)


def _f32(x: float) -> float:
    """Round-trip through float32 — the reference stores xFilesFactor as
    ``!f`` (whisper.py:109-110), so e.g. 0.2 becomes 0.20000000298...,
    which FLIPS gate decisions like ``1/5 >= xff``.  Parity requires the
    same quantization (found by multi-metric differential testing)."""
    return _struct.unpack("!f", _struct.pack("!f", float(x)))[0]


def _with_tb(df: DataFrame) -> DataFrame:
    """Rows (ts, resolution, ...) with their time bucket ``tb``."""
    return df.withColumn(
        "tb", (F.col("ts") / (F.col("resolution") * F.lit(TB_SLOTS))).cast("long")
    )


def _collider_where(step: int, span: int, lo: int, last: int) -> str:
    """SQL predicate for the rows of one archive (``step``, ring ``span``)
    that can share a ring slot with a ts in ``[lo, last]``, the store's
    only statement of that region: the range itself, every later ts (a
    future point), and the range one span back, ``[lo - span, last -
    span]`` (a later batch writing an older ts).  A row strictly between
    ``last - span`` and ``lo`` holds no slot of the range (no row is, when
    the range is a span or wider), and rows before
    ``lo - span`` are not read.  The fetch and the rollup cascade both
    read through it, so both see the same slot winners.

    The ``tb`` bounds skip the buckets wholly outside the region.  They
    use floor division, which matches the writer's truncating ``tb`` for
    ``ts >= 0``, so a skipped bucket inside the gap is ``tb >= 1``."""
    w = step * TB_SLOTS
    back = last - span
    return (
        f"resolution = {step} AND tb >= {(lo - span) // w} AND ts >= {lo - span}"
        f" AND (tb <= {max(back // w, 0)} OR tb >= {lo // w})"
        f" AND (ts <= {back} OR ts >= {lo})"
    )


class WhisperStore:
    """A policy-scoped, multi-metric time-series store on parquet."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)
        self._policy_cache: dict | None = None  # CACHE_HEADERS analog

    # ------------------------------------------------------------------ #
    # lifecycle
    # ------------------------------------------------------------------ #

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        archive_list: Sequence | str,
        x_files_factor: float = 0.5,
        aggregation_method: str = "average",
    ) -> "WhisperStore":
        """Create a store (reference: whisper.py:479-550 ``create``).

        ``archive_list`` accepts ``[(step, points), ...]`` or the retention
        DSL (``"10s:14d,1m:30d"``).  Defaults mirror the reference:
        xff=0.5, aggregation=average (reference: whisper.py:491-495).
        """
        archives = parse_retention_defs(archive_list)
        validate_aggregation_method(aggregation_method)
        if not 0 <= float(x_files_factor) <= 1:
            raise InvalidXFilesFactor("x_files_factor must be between 0 and 1")
        path = os.path.abspath(path)
        if os.path.exists(os.path.join(path, "policy.json")):
            # reference: whisper.py:501-502 "File %s already exists!"
            raise InvalidConfiguration(f"Store {path} already exists!")
        os.makedirs(path, exist_ok=True)
        policy = {
            "aggregationMethod": aggregation_method,
            "xFilesFactor": _f32(x_files_factor),
            "archives": [[int(s), int(p)] for (s, p) in archives],
            "batch": 0,
        }
        store = cls(spark, path)
        store._write_policy(policy)
        return store

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "WhisperStore":
        store = cls(spark, path)
        store._policy()  # validate early
        return store

    def _policy(self) -> dict:
        if self._policy_cache is not None:
            return self._policy_cache
        p = os.path.join(self.path, "policy.json")
        try:
            with open(p) as f:
                policy = json.load(f)
        except (OSError, json.JSONDecodeError) as e:
            raise CorruptWhisperFile(f"Unable to read policy: {e}", self.path)
        if not policy.get("archives"):
            raise CorruptWhisperFile("policy has no archives", self.path)
        self._policy_cache = policy
        return policy

    def _write_policy(self, policy: dict) -> None:
        tmp = os.path.join(self.path, f".policy.{uuid.uuid4().hex}.tmp")
        try:
            with open(tmp, "w") as f:
                json.dump(policy, f)
            os.replace(tmp, os.path.join(self.path, "policy.json"))
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)
        self._policy_cache = policy

    @property
    def archives(self) -> list[ArchiveSpec]:
        return [ArchiveSpec(s, p) for (s, p) in self._policy()["archives"]]

    @property
    def aggregation_method(self) -> str:
        return self._policy()["aggregationMethod"]

    @property
    def x_files_factor(self) -> float:
        return self._policy()["xFilesFactor"]

    @property
    def max_retention(self) -> int:
        return max(a.retention for a in self.archives)

    @contextmanager
    def _fs_lock(self, name: str):
        """flock single-writer gate — the reference's LOCK analog
        (whisper.py:98-104,683-684: flock around file mutation).  flock
        is host-local: it makes concurrent writers on one driver/host
        safe.  For multi-driver cluster deployments replace with an
        external coordination point (the code only needs mutual exclusion
        here, nothing finer)."""
        import fcntl

        lf = open(os.path.join(self.path, name), "a+")
        try:
            fcntl.flock(lf, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(lf, fcntl.LOCK_UN)
            lf.close()

    @contextmanager
    def _policy_lock(self):
        """Mutual exclusion for policy read-modify-write: two simultaneous
        ``update_many`` calls can no longer mint the same wseq, so LWW
        ties stay deterministic.  Downstream only needs wseq uniqueness +
        monotonicity, so a cluster-scale deployment can swap this for any
        monotonic allocator."""
        with self._fs_lock(".policy.lock"):
            self._policy_cache = None  # observe other writers' mutations
            yield

    def _next_batch(self) -> int:
        with self._policy_lock():
            policy = dict(self._policy())
            policy["batch"] = int(policy.get("batch", 0)) + 1
            self._write_policy(policy)
            return policy["batch"]

    # ------------------------------------------------------------------ #
    # header mutation (reference: whisper.py:331-418)
    # ------------------------------------------------------------------ #

    def set_aggregation_method(
        self, method: str, x_files_factor: float | None = None
    ) -> str:
        """Returns the previous method (reference: whisper.py:345-388)."""
        validate_aggregation_method(method)
        if x_files_factor is not None and not 0 <= float(x_files_factor) <= 1:
            raise InvalidXFilesFactor("x_files_factor must be between 0 and 1")
        with self._policy_lock():
            policy = dict(self._policy())
            old = policy["aggregationMethod"]
            policy["aggregationMethod"] = method
            if x_files_factor is not None:
                policy["xFilesFactor"] = _f32(x_files_factor)
            self._write_policy(policy)
        return old

    def set_x_files_factor(self, x_files_factor: float) -> float:
        """Returns the previous xff (reference: whisper.py:331-342,391-418)."""
        try:
            xff = float(x_files_factor)
        except (TypeError, ValueError):
            raise InvalidXFilesFactor("Invalid xFilesFactor") from None
        if not 0 <= xff <= 1:
            raise InvalidXFilesFactor("x_files_factor must be between 0 and 1")
        with self._policy_lock():
            policy = dict(self._policy())
            old = policy["xFilesFactor"]
            policy["xFilesFactor"] = _f32(xff)
            self._write_policy(policy)
        return old

    def info(self) -> dict:
        """Header dump (reference: whisper.py:878-889 ``info``)."""
        policy = self._policy()
        return {
            "aggregationMethod": policy["aggregationMethod"],
            "maxRetention": self.max_retention,
            "xFilesFactor": policy["xFilesFactor"],
            "archives": [a.to_dict() for a in self.archives],
        }

    # ------------------------------------------------------------------ #
    # physical IO
    # ------------------------------------------------------------------ #

    @property
    def _points_path(self) -> str:
        return os.path.join(self.path, "points")

    def _has_data(self) -> bool:
        p = self._points_path
        return os.path.isdir(p) and any(
            e.startswith("resolution=") for e in os.listdir(p)
        )

    def _read_points(self) -> DataFrame:
        from . import debug

        debug.record_read(f"points scan {self.path}")
        if not self._has_data():
            return self.spark.createDataFrame([], POINTS_SCHEMA)
        df = self.spark.read.schema(POINTS_SCHEMA).parquet(self._points_path)
        return df.select(*[f.name for f in POINTS_SCHEMA.fields])

    def _lww(self, df: DataFrame) -> DataFrame:
        """Collapse multi-batch duplicates per (metric, resolution, ts):
        latest batch wins.  For the views and compaction, which keep
        every ts; readers use ``_ring_visible``."""
        return last_write_wins(df, ["metric", "resolution"], order="wseq")

    def _ring_visible(self, rows: DataFrame, archive: ArchiveSpec) -> DataFrame:
        """Whisper's slot rule, the store's only statement of it: the
        rows (metric, ts, value, wseq) of one archive whose ts are
        congruent mod the archive span share a ring slot, and the slot
        shows the row with the largest ``(wseq, ts)`` — the later batch,
        then the larger ts (the in-batch chronological write order,
        reference: whisper.py:842-856).  Every other row is invisible,
        like a stale stored timestamp (whisper.py:1026-1031).  The winner
        is also the largest-wseq row for its own ts, so the rule is
        last-write-wins as well and needs no per-ts collapse first.
        Returns one (metric, ts, value) row per occupied slot."""
        return (
            rows.groupBy("metric", F.expr(f"pmod(ts, {archive.retention}L)").alias("slot"))
            .agg(F.expr("max(struct(wseq, ts, value))").alias("w"))
            .select("metric", "w.ts", "w.value")
        )

    def _write_points(self, df: DataFrame, path: str, mode: str) -> None:
        """The one points writer: rows (metric, resolution, ts, value,
        wseq) get their ``tb`` and are rebalanced on (resolution, tb)
        before the partitioned parquet write, so AQE sizes the write
        tasks from the real shuffle bytes — one file per bucket per
        write, with a bucket larger than
        ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` split
        across tasks.  The sizing needs ``spark.sql.adaptive.enabled``:
        with AQE off the hint is a hash repartition into
        ``spark.sql.shuffle.partitions``, one task per bucket at any
        size."""
        (
            _with_tb(df)
            .select(*[f.name for f in POINTS_SCHEMA.fields])
            .hint("rebalance", "resolution", "tb")
            .write.partitionBy("resolution", "tb")
            .mode(mode)
            .parquet(path)
        )

    def _append(self, df: DataFrame) -> None:
        """Append rows (metric, resolution, ts, value, wseq)."""
        from . import debug

        debug.record_write(f"batch append {self.path}")
        self._write_points(df, self._points_path, "append")

    # ------------------------------------------------------------------ #
    # write path (reference: whisper.py:667-875)
    # ------------------------------------------------------------------ #

    def update(
        self, metric: str, value: float, timestamp: int | None = None, now: int | None = None
    ) -> None:
        """Single-point upsert (reference: whisper.py:667-737 ``update``).

        Rejects timestamps in the future or older than maxRetention
        (reference: whisper.py:691-696).
        """
        now = int(now) if now is not None else self._wallclock()
        timestamp = int(timestamp) if timestamp is not None else now
        diff = now - timestamp
        if not (0 <= diff < self.max_retention):
            raise TimestampNotCovered(
                "Timestamp not covered by any archives in this database."
            )
        df = self.spark.createDataFrame(
            [(str(metric), int(timestamp), float(value), 0)], INPUT_SCHEMA
        )
        self._update_batch(df, now)

    def update_many(
        self,
        points: DataFrame | Iterable,
        now: int | None = None,
        metric: str | None = None,
    ) -> None:
        """Bulk upsert (reference: whisper.py:740-875 ``update_many``).

        ``points`` is a DataFrame with columns (metric, ts, value[, seq])
        or an iterable of (ts, value) tuples (then ``metric`` is required,
        matching the reference's per-file call shape).
        Points older than maxRetention are silently dropped (reference:
        whisper.py:781-789); future points are accepted (the reference's
        age test never rejects age < 0).
        """
        now = int(now) if now is not None else self._wallclock()
        if not isinstance(points, DataFrame):
            if metric is None:
                raise ValueError(
                    "metric= is required when passing (ts, value) tuples"
                )
            rows = [
                (str(metric), int(t), float(v), i)
                for i, (t, v) in enumerate(points)
            ]
            if not rows:
                return
            points = self.spark.createDataFrame(rows, INPUT_SCHEMA)
        if "seq" not in points.columns:
            points = points.withColumn("seq", F.lit(0).cast("long"))
        points = points.select(
            F.col("metric").cast("string"),
            F.col("ts").cast("long"),
            F.col("value").cast("double"),
            F.col("seq").cast("long"),
        )
        self._update_batch(points, now)

    def _wallclock(self) -> int:
        import time

        return int(time.time())

    def _assign_archive(self, points: DataFrame, now: int) -> DataFrame:
        """Age-bucket each point to the highest-precision archive covering
        it; drop points beyond maxRetention (reference: whisper.py:767-789)."""
        age = F.lit(now) - F.col("ts")
        expr = F.lit(None).cast("int")
        for i in reversed(range(len(self.archives))):
            expr = F.when(age <= self.archives[i].retention, F.lit(i)).otherwise(expr)
        return points.withColumn("aidx", expr).filter(F.col("aidx").isNotNull())

    def _update_batch(self, points: DataFrame, now: int) -> None:
        assigned = self._assign_archive(points, now)
        self._write_assigned(assigned)

    def _write_assigned(self, assigned: DataFrame) -> None:
        """Write one batch of points that already carry their target
        archive index ``aidx`` (columns: metric, ts, value, seq, aidx)
        and their rollup cascade in one append.  Shared by
        update/update_many (age bucketing) and merge (fixed same-index
        writes, reference: whisper.py:1085-1095)."""
        archives = self.archives
        with self._fs_lock(".append.lock"):
            batch = self._next_batch()
            self._write_assigned_locked(assigned, archives, batch)

    def _write_assigned_locked(self, assigned: DataFrame, archives, batch: int) -> None:
        # Serialized writer section (whisper LOCK semantics: one writer
        # per file).  Two reasons, both real: (a) concurrent append jobs
        # share the table root's Hadoop _temporary staging dir and corrupt
        # each other's commit; (b) a cascade computed without seeing an
        # in-flight sibling's batch could win LWW with an incomplete
        # rollup.  wseq is allocated INSIDE the lock, so lock order ==
        # wseq order: the highest-wseq (winning) cascade always ran last
        # and saw every earlier committed batch.

        # align to the receiving archive's step; within-batch dedup keeps
        # the greatest raw ts, ties to the earliest seq (reference:
        # whisper.py:749,806-808 — see module docstring)
        step_expr = F.lit(None).cast("long")
        for i, a in enumerate(archives):
            step_expr = F.when(F.col("aidx") == i, F.lit(a.seconds_per_point)).otherwise(
                step_expr
            )
        aligned = assigned.withColumn("resolution", step_expr).withColumn(
            "ats", align_ts(F.col("ts"), F.col("resolution"))
        )
        deduped = (
            aligned.groupBy("metric", "aidx", "resolution", "ats")
            .agg(
                F.max_by(
                    "value", F.struct(F.col("ts"), (-F.col("seq")).alias("ns"))
                ).alias("value")
            )
            .withColumnRenamed("ats", "ts")
            .withColumn("wseq", F.lit(batch).cast("long"))
            .localCheckpoint()
        )
        rolled = self._cascade(deduped, batch)
        # the batch commits once: a failure anywhere above writes nothing
        self._append(reduce(DataFrame.unionByName, [deduped.drop("aidx"), *rolled]))

    def _cascade(self, deduped: DataFrame, batch: int) -> list[DataFrame]:
        """Rollup cascade with per-(source archive, METRIC) early stop.
        Returns the rolled rows of every lower level (columns metric,
        resolution, ts, value, wseq) as frames and writes nothing: the
        caller commits them with the batch's points in one append per
        batch, so a failed batch writes nothing.

        Whisper cascades per file — i.e. per metric: an
        ``__archive_update_many`` stops propagating deeper once an entire
        level writes nothing *for that file* (reference: whisper.py:729-733
        single-point, :869-875 bulk).  One store holds many metrics, so
        aliveness is tracked per (aidx, metric) pair — as a lazy
        DataFrame, not a driver-side set, so a batch touching millions of
        metrics never collects them (the only driver-side value is each
        level's earliest touched interval).

        For each lower level j, candidate intervals come from every still-
        alive cascade whose source archive is higher-precision than j; the
        recompute reads the ring-visible level j-1 data exactly like
        ``__propagate`` reads the higher archive (whisper.py:578-637).
        Nothing of the batch is on disk yet, so level j-1 is the stored
        rows plus the batch's in-flight rows at that resolution (its
        direct writes, and level j-1's rollup where no direct write took
        the slot).  Those carry ``wseq = batch``, the highest in the
        store, so the slot rule (``_ring_visible``: per ring slot, the
        largest ``(wseq, ts)`` wins, which is last-write-wins and ring
        eviction at once) sees what it would see after an append.
        """
        archives = self.archives
        policy = self._policy()
        method = policy["aggregationMethod"]
        xff = float(policy["xFilesFactor"])
        stored = self._has_data()
        cols = ["metric", "resolution", "ts", "value", "wseq"]

        touched = deduped.select("aidx", "metric", "ts")
        alive = touched.select("aidx", "metric").distinct()
        rolled_levels: list[DataFrame] = []
        rolled = None  # level j-1's rollup; None when no cascade reached it
        for j in range(1, len(archives)):
            # cascades feeding level j = alive (source, metric) pairs
            # whose source archive is higher-precision than j (a batch's
            # direct writes into archive j-1 start their own cascade —
            # reference: whisper.py:858-875)
            src_alive = alive.filter(F.col("aidx") < j)
            lower = archives[j]
            higher = archives[j - 1]
            cand = (
                touched.join(src_alive, on=["aidx", "metric"], how="left_semi")
                .select(
                    "aidx",
                    "metric",
                    align_ts(F.col("ts"), lower.seconds_per_point).alias("lts"),
                )
                .distinct()
                .localCheckpoint()
            )
            intervals = cand.select("metric", "lts").distinct()

            # scan pruning: the recompute reads the higher archive's ts in
            # the touched intervals, [lo, hi + lower - higher step], and
            # their ring colliders (``_collider_where``), stored and in
            # flight — (resolution, tb) partitions + parquet min/max stats
            # prune the read (at 100 TB the store dwarfs any batch)
            lo, hi = cand.agg(F.min("lts"), F.max("lts")).collect()[0]
            if lo is None:
                rolled = None
                continue
            where = _collider_where(
                higher.seconds_per_point,
                higher.retention,
                int(lo),
                int(hi) + lower.seconds_per_point - higher.seconds_per_point,
            )
            in_flight = deduped.filter(F.col("aidx") == j - 1).select(*cols)
            if rolled is not None:
                in_flight = in_flight.unionByName(rolled)
            src_rows = _with_tb(in_flight).where(where).select(*cols)
            if stored:
                src_rows = (
                    self._read_points().where(where).select(*cols).unionByName(src_rows)
                )
            # ring-visible state of the higher archive: propagation in the
            # reference happens AFTER physical slot writes, so a point
            # evicted by a colliding (mod span) later write must not feed
            # the rollup.
            src_data = self._ring_visible(src_rows, higher).withColumn(
                "lts", align_ts(F.col("ts"), lower.seconds_per_point)
            )
            src_in = src_data.join(
                F.broadcast(intervals), on=["metric", "lts"], how="left_semi"
            )
            rolled = xff_rollup(
                src_in.select("metric", "ts", "value"),
                keys=["metric"],
                higher_step=higher.seconds_per_point,
                lower_step=lower.seconds_per_point,
                method=method,
                xff=xff,
            ).select(
                "metric",
                F.lit(lower.seconds_per_point).cast("long").alias("resolution"),
                "ts",
                "value",
                F.lit(batch).cast("long").alias("wseq"),
            )
            if j + 1 < len(archives):
                # read again by the next level (in-flight rows and the
                # alive set) and by the append
                rolled = rolled.localCheckpoint()
                # a (source, metric) cascade survives level j iff at least
                # one of its intervals passed the gate
                surviving = (
                    cand.join(
                        rolled.select("metric", F.col("ts").alias("lts")).distinct(),
                        on=["metric", "lts"],
                        how="left_semi",
                    )
                    .select("aidx", "metric")
                    .distinct()
                )
                alive = alive.filter(F.col("aidx") >= j).unionByName(surviving)
            # this batch's direct writes into archive j land after its
            # rollups from archive j-1 and overwrite the slot (reference:
            # whisper.py:767-789 commits archives in precision order); the
            # rollup still counted for the survival test above
            rolled = rolled.join(
                deduped.filter(F.col("aidx") == j).select("metric", "ts"),
                on=["metric", "ts"],
                how="left_anti",
            )
            rolled_levels.append(rolled)
        return rolled_levels

    # ------------------------------------------------------------------ #
    # read path (reference: whisper.py:892-1034)
    # ------------------------------------------------------------------ #

    def fetch(
        self,
        metrics: str | Sequence[str] | None = None,
        from_time: int | None = None,
        until_time: int | None = None,
        now: int | None = None,
        archive_step: int | None = None,
        drop: str | None = None,
    ):
        """Range read returning ``((fromInterval, untilInterval, step), DataFrame)``.

        Clamping, archive selection and quantization follow the reference
        exactly (whisper.py:909-976):

        * ``from > until`` → ``InvalidTimeInterval``
        * range fully in the future or fully beyond retention → ``None``
        * clamp to ``[now - maxRetention, now]``
        * archive = highest precision with ``retention >= now - from``
          (or the forced ``archive_step``)
        * intervals quantized UP by one step; zero-length range returns
          one slot.

        The DataFrame is the dense, step-aligned timeline — one row per
        (metric, slot) with NULL in gaps (reference: whisper.py:1016-1034).
        ``drop`` post-filters like whisper-fetch's ``--drop``
        (reference: bin/whisper-fetch.py:13-17): 'nulls' | 'zeroes' | 'empty'.
        """
        now = int(now) if now is not None else self._wallclock()
        until_time = int(until_time) if until_time is not None else now
        if from_time is None:
            raise InvalidTimeInterval("from_time is required")
        from_time = int(from_time)
        if from_time > until_time:
            raise InvalidTimeInterval(
                f"Invalid time interval: from time '{from_time}' is after "
                f"until time '{until_time}'"
            )
        oldest = now - self.max_retention
        if from_time > now:
            return None
        if until_time < oldest:
            return None
        from_time = max(from_time, oldest)
        until_time = min(until_time, now)

        archive = select_archive(self.archives, now, from_time, archive_step)
        ((from_interval, until_interval, step), timeline) = self._fetch_archive_dense(
            archive, from_time, until_time, metrics
        )
        if drop == "nulls":
            timeline = timeline.filter(F.col("value").isNotNull())
        elif drop == "zeroes":
            # the reference's drop fn is Python `x != 0`, which KEEPS None
            # rows (bin/whisper-fetch.py:13-17); SQL != would drop NULLs
            timeline = timeline.filter(
                F.col("value").isNull() | (F.col("value") != 0)
            )
        elif drop == "empty":
            timeline = timeline.filter(F.col("value").isNotNull() & (F.col("value") != 0))
        return ((from_interval, until_interval, step), timeline)

    def _tb_buckets(self, step: int) -> list[int]:
        """tb partition values present for one resolution, from directory
        metadata only (no data scan).  At cluster scale this is one
        listing of time-bucket dirs — bounded by retention/(step*TB_SLOTS),
        not by data volume."""
        p = os.path.join(self._points_path, f"resolution={step}")
        if not os.path.isdir(p):
            return []
        out = []
        for e in os.listdir(p):
            if e.startswith("tb="):
                try:
                    out.append(int(e.split("=", 1)[1]))
                except ValueError:
                    pass
        return out

    def _fetch_archive_dense(
        self,
        archive: ArchiveSpec,
        from_time: int,
        until_time: int,
        metrics: str | Sequence[str] | None = None,
    ):
        """Dense read of ONE archive with the reference's quantize-up-by-
        one-step convention and zero-length handling (reference:
        whisper.py:962-976).  No clamping — callers clamp (merge/diff
        deliberately fetch archives over their full retention).

        One aggregate builds the whole timeline: the slot rule
        (``_ring_visible``) over the scanned rows plus a spine row
        ``(metric, ts, NULL, wseq -1)`` per requested series and window
        slot.  Stored ``wseq`` is >= 0, so a slot whose winner is its
        spine row is a gap.  Each slot owner then maps to its first window
        ts, ``from + pmod(ts - from, span)``; a slot with none is outside
        the window and dropped.  A window is at most one span wide when
        the caller clamps it to the archive's retention, so each window
        ts owns one slot.

        A wider window (a forced ``archive_step``, or an unclamped
        ``until``) still gets one row per window ts, and a ts shows its
        value only if it won its slot.  That is the store's rule, not the
        reference's: whisper reads ``(until - from) / step mod points``
        slots from the window start there and returns fewer values
        (whisper.py:962-1034), a known divergence.

        With explicit ``metrics`` the spine is a literal name array and
        the plan has one ``Exchange``, on the slot key.  With
        ``metrics=None`` every stored metric gets its series, and the
        spine's keys are a ``distinct`` over the store, itself an
        ``Exchange hashpartitioning(metric)``.  The scan is
        repartitioned on ``metric`` too, so the plan has two
        ``hash(metric)`` exchanges feeding one reduce stage that runs the
        slot aggregate, and the output stays partitioned by ``metric``:
        the key discovery runs beside the scan, not before it, and a
        render's per-series windows and groupBys add no exchange.  This
        relies on ``spark.sql.unionOutputPartitioning`` (on by default in
        Spark 4.1), which lets the union keep its children's common
        partitioning."""
        step = archive.seconds_per_point
        from_interval = (from_time - (from_time % step)) + step
        until_interval = (until_time - (until_time % step)) + step
        if from_interval == until_interval:
            until_interval += step
        span = archive.retention
        last = until_interval - step
        # A window slot's colliders live one span away on either side: a
        # future-timestamped point evicts the point one span older, and a
        # later batch writing an older timestamp evicts an in-window
        # future point.  The scan reads the window, the tail and the
        # window one span back (``_collider_where``), pruned by partition
        # and parquet min/max stats.  Found by differential fuzzing
        # (tests/test_store_fuzz.py).
        points = self._read_points()
        scanned = points.where(_collider_where(step, span, from_interval, last))
        if metrics is None:
            # every stored metric gets its series, all-NULL if it has no
            # point in the window; both union sides hash on metric
            scanned = scanned.repartition("metric")
            keys = points.select("metric").distinct()
        else:
            names = [metrics] if isinstance(metrics, str) else list(metrics)
            # an In filter pushed into the parquet scan
            scanned = scanned.where(F.col("metric").isin(names))
            keys = self.spark.range(1).select(
                F.explode(F.array(*[F.lit(n) for n in names])).alias("metric")
            )
        spine = keys.selectExpr(
            "metric", f"explode(sequence({from_interval}L, {last}L, {step}L)) AS ts"
        )
        rows = scanned.select("metric", "ts", "value", "wseq").unionByName(
            spine.selectExpr("metric", "ts", "CAST(NULL AS DOUBLE) AS value", "-1L AS wseq")
        )
        # the owner's first window ts; the slot holds a spine row iff
        # that is in the window and step-aligned
        first = f"{from_interval}L + pmod(ts - {from_interval}L, {span}L)"
        timeline = (
            self._ring_visible(rows, archive)
            .where(f"{first} <= {last}L AND pmod({first}, {step}L) = 0")
            # several window ts when the window is wider than the ring
            .selectExpr("metric", f"explode(sequence({first}, {last}L, {span}L)) AS wts",
                        "ts", "value")
            .selectExpr("metric", "wts AS ts", "CASE WHEN ts = wts THEN value END AS value")
        )
        return ((from_interval, until_interval, step), timeline)

    def fetch_series(self, metric: str, **kwargs):
        """Convenience: fetch one metric and collect to the reference's
        ``(timeInfo, [value, ...])`` shape — for tests and small reads ONLY
        (collects to the driver)."""
        res = self.fetch(metrics=metric, **kwargs)
        if res is None:
            return None
        (time_info, df) = res
        rows = df.orderBy("ts").select("ts", "value").collect()
        return (time_info, [r["value"] for r in rows])

    def render(
        self,
        target: str,
        from_time: int | None = None,
        until_time: int | None = None,
        now: int | None = None,
        max_datapoints: int | None = None,
    ):
        """Evaluate a graphite render target over this store — the
        graphite-web /render API as a library call.

        Fetches the full range once (archive auto-selection picks the
        resolution), threads the fetch step into the evaluator, and
        optionally applies maxDataPoints consolidation with the
        target's consolidateBy method.  ``from``/``until`` accept epochs
        or at-style strings ('now-1h', 'midnight', '-7d').  Returns
        ``(frame, step)`` where frame is the unordered
        (metric, ts, value) result DataFrame — no driver collect.
        """
        return _render(self.fetch, target, from_time, until_time, now, max_datapoints)

    def metrics(self) -> DataFrame:
        """Distinct metric names — the namespace listing (whisper's
        directory tree of .wsp files)."""
        return self._read_points().select("metric").distinct()

    def create_views(self, prefix: str = "wsp") -> list[str]:
        """Register the store as SQL temp views so users can query it
        with plain ``spark.sql``:

        * ``<prefix>_points``  — raw stored rows (pre-LWW, with
          resolution/wseq), the dump surface
        * ``<prefix>_series``  — LWW-collapsed live rows per
          (metric, resolution, ts), the read surface
        * ``<prefix>_metrics`` — distinct metric names

        Returns the created view names.  Views are session-scoped
        metadata only — queries against them get the same partition
        pruning (``WHERE resolution = .. AND tb = ..``) as the
        DataFrame path, because they resolve to the identical scan."""
        raw = self._read_points()
        live = self._lww(raw).drop("wseq")
        names = [f"{prefix}_points", f"{prefix}_series", f"{prefix}_metrics"]
        raw.createOrReplaceTempView(names[0])
        live.createOrReplaceTempView(names[1])
        self.metrics().createOrReplaceTempView(names[2])
        return names

    def find(self, pattern: str) -> DataFrame:
        """graphite ``/metrics/find`` semantics over the store namespace:
        nodes at the pattern's depth, with leaf/branch flags.

        ``pattern`` is a dotted glob (``servers.*.cpu``); the result has
        one row per matching node path at that depth — ``is_leaf`` true
        when a metric ends exactly there, ``is_branch`` true when deeper
        metrics continue below (both can be true, as in graphite).  One
        distinct + one groupBy over the name column only (column-pruned
        scan); the reference stack serves this from the .wsp directory
        tree, which the metric column replaces."""
        from .functions.timeseries import glob_to_regex

        depth = pattern.count(".") + 1
        parts = F.split(F.col("metric"), r"\.")
        node = F.concat_ws(".", F.slice(parts, 1, depth))
        return (
            self.metrics()
            .filter(F.size(parts) >= depth)
            .select(
                node.alias("node"),
                (F.size(parts) == depth).alias("_leaf"),
            )
            .filter(F.col("node").rlike(glob_to_regex(pattern)))
            .groupBy("node")
            .agg(
                F.max(F.col("_leaf")).alias("is_leaf"),
                F.max(~F.col("_leaf")).alias("is_branch"),
            )
        )

    def dump(self) -> DataFrame:
        """Full-scan debug view (reference: bin/whisper-dump.py:40-138).
        Returns every stored row (pre-LWW), ordered by archive then ts."""
        return self._read_points().orderBy("resolution", "metric", "ts", "wseq")

    # ------------------------------------------------------------------ #
    # store-to-store operators (reference: whisper.py:1037-1149,
    # bin/whisper-fill.py, bin/whisper-resize.py)
    # ------------------------------------------------------------------ #

    def merge_into(
        self,
        dst: "WhisperStore",
        time_from: int | None = None,
        time_to: int | None = None,
        now: int | None = None,
    ) -> None:
        """Copy this store's data into ``dst``, overwriting dst slots where
        the source has values (reference: whisper.py:1037-1095 ``merge``).

        Archive configurations must match (reference: whisper.py:1054-1057).
        Per archive the window is clamped to that archive's retention; the
        source's dense slots (non-null) are written into the SAME archive
        index of dst and cascade from there.
        """
        if [tuple(a) for a in self._policy()["archives"]] != [
            tuple(a) for a in dst._policy()["archives"]
        ]:
            raise NotImplementedError(
                f"{self.path} and {dst.path} archive configurations are "
                f"unalike. Resize the input before merging"
            )
        now = int(now) if now is not None else self._wallclock()
        until_time = int(time_to) if time_to is not None else now
        from_time = int(time_from) if time_from is not None else 0
        if until_time < from_time:
            raise ValueError("time_to must be >= time_from")

        order = sorted(range(len(self.archives)), key=lambda i: self.archives[i].retention)
        for i in order:
            archive = self.archives[i]
            a_from = max(from_time, now - archive.retention)
            if until_time < now - archive.retention:
                continue
            (_, dense) = self._fetch_archive_dense(archive, a_from, until_time)
            pts = (
                dense.filter(F.col("value").isNotNull())
                .select(
                    "metric", "ts", "value",
                    F.lit(0).cast("long").alias("seq"),
                    F.lit(i).alias("aidx"),
                )
            )
            dst._write_assigned(pts)

    def diff(
        self,
        other: "WhisperStore",
        ignore_empty: bool = False,
        until_time: int | None = None,
        now: int | None = None,
    ) -> list[tuple[int, DataFrame, int]]:
        """Per-archive comparison (reference: whisper.py:1098-1149 ``diff``).

        Returns ``[(archive_idx, diffs_df(metric, ts, va, vb), total), ...]``
        where ``total`` counts compared rows (either side non-null, or both
        when ``ignore_empty``).  Windows never overlap across archives —
        ``untilTime = min(startTime, untilTime)`` per level (reference:
        whisper.py:1148).  NaN vs NaN counts as DIFFERENT, matching the
        reference's Python ``!=`` (test_whisper.py:454-478); note Spark's
        own ``<=>`` treats NaN as equal, so we special-case it.
        """
        if [tuple(a) for a in self._policy()["archives"]] != [
            tuple(a) for a in other._policy()["archives"]
        ]:
            raise NotImplementedError(
                f"{self.path} and {other.path} archive configurations are "
                f"unalike. Resize the input before diffing"
            )
        now = int(now) if now is not None else self._wallclock()
        until = int(until_time) if until_time else now
        out = []
        order = sorted(
            range(len(self.archives)), key=lambda i: self.archives[i].retention
        )
        for n_archive, i in enumerate(order):
            archive = self.archives[i]
            start = now - archive.retention
            (_, da) = self._fetch_archive_dense(archive, start, until)
            (_, db) = other._fetch_archive_dense(archive, start, until)
            j = da.withColumnRenamed("value", "va").join(
                db.withColumnRenamed("value", "vb"), on=["metric", "ts"], how="full"
            )
            if ignore_empty:
                j = j.filter(F.col("va").isNotNull() & F.col("vb").isNotNull())
            else:
                j = j.filter(F.col("va").isNotNull() | F.col("vb").isNotNull())
            total = j.count()
            differs = (~F.col("va").eqNullSafe(F.col("vb"))) | (
                F.isnan(F.coalesce(F.col("va"), F.lit(0.0)))
                & F.isnan(F.coalesce(F.col("vb"), F.lit(0.0)))
            )
            out.append((n_archive, j.filter(differs).select("metric", "ts", "va", "vb"), total))
            until = min(start, until)
        return out

    def fill_from(
        self,
        src: "WhisperStore",
        start_from: int | None = None,
        now: int | None = None,
    ) -> None:
        """Gap-only merge: fill this store's gaps from ``src`` without
        overwriting existing data (reference: bin/whisper-fill.py).

        Parity notes: a "gap" is a run of falsy slots (NULL or 0.0 — the
        reference tests ``if not v``, bin/whisper-fill.py:106-110);
        single-slot gaps are skipped unless they end the window
        (bin/whisper-fill.py:112-118); each filled range extends one slot
        past the gap (the reference's fetch window includes the boundary
        slot).  Source data is taken highest-precision-first: each slot
        comes from the finest src archive whose retention covers it
        (bin/whisper-fill.py:52-92).
        """
        now = int(now) if now is not None else self._wallclock()
        start_from = int(start_from) if start_from is not None else now
        src_archives = sorted(src.archives, key=lambda a: a.retention)

        for archive in sorted(self.archives, key=lambda a: a.retention):
            step = archive.seconds_per_point
            from_time = now - archive.retention
            if from_time >= start_from:
                continue
            ((fi, ui, _), dense) = self._fetch_archive_dense(
                archive, from_time, start_from
            )
            last_slot = ui - step
            from pyspark.sql import Window

            w = Window.partitionBy("metric").orderBy("ts")
            gaps = (
                dense.filter(F.col("value").isNull() | (F.col("value") == 0.0))
                .withColumn(
                    "grp",
                    (F.col("ts") / step).cast("long") - F.row_number().over(w),
                )
                .groupBy("metric", "grp")
                # single-slot gaps are never filled, including at the end
                # of the window: the reference's trailing branch
                # (bin/whisper-fill.py:115-117) is reachable only when
                # gapstart was set on an EARLIER iteration (length >= 2)
                .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"), F.count("*").alias("n"))
                .filter(F.col("n") >= 2)
                .withColumn(
                    "hi",
                    F.when(F.col("hi") == last_slot, F.col("hi")).otherwise(
                        F.col("hi") + step
                    ),
                )
                .select("metric", "lo", "hi")
                .localCheckpoint()
            )
            if gaps.limit(1).count() == 0:
                start_from = from_time
                continue
            # source points: per src archive (finest first), dense slots
            # within [now - ret_k, previous boundary) intersected with
            # the gap ranges of this dst archive
            fills = None
            hi_bound = start_from
            for sa in src_archives:
                lo_bound = now - sa.retention
                if hi_bound <= lo_bound:
                    continue
                (_, sd) = src._fetch_archive_dense(sa, max(lo_bound, from_time), hi_bound)
                part = sd.filter(F.col("value").isNotNull()).join(
                    F.broadcast(gaps),
                    on=(
                        (sd["metric"] == gaps["metric"])
                        & (sd["ts"] >= gaps["lo"])
                        & (sd["ts"] <= gaps["hi"])
                    ),
                    how="left_semi",
                )
                fills = part if fills is None else fills.unionByName(part)
                hi_bound = lo_bound
                if hi_bound <= from_time:
                    break
            if fills is not None:
                self.update_many(
                    fills.select(
                        "metric", "ts", "value", F.lit(0).cast("long").alias("seq")
                    ),
                    now=now,
                )
            start_from = from_time

    def resize(
        self,
        new_archives: Sequence | str,
        new_path: str | None = None,
        x_files_factor: float | None = None,
        aggregation_method: str | None = None,
        use_aggregate: bool = False,
        now: int | None = None,
    ) -> "WhisperStore":
        """Schema migration (reference: bin/whisper-resize.py).

        Default path: replay each old archive's dense non-null points into
        the new store, COARSEST archive first (bin/whisper-resize.py:97
        sorts ``secondsPerPoint`` descending before the replay loop at
        :199-206) — later, finer replays overwrite via last-write-wins, so
        the finest data survives conflicts exactly like the reference's
        in-place slot writes.

        ``use_aggregate``: build one merged timeline preferring the finest
        data (each coarser archive contributes only slots older than the
        finer ones, bin/whisper-resize.py:147-163), then re-bin per new
        archive into intervals anchored at ``now - retention + now % step``
        with the xff gate counting null timeline slots in the denominator
        (bin/whisper-resize.py:175-198).

        ``new_path=None`` resizes in place with an atomic directory swap
        (bin/whisper-resize.py:208-225).
        """
        now = int(now) if now is not None else self._wallclock()
        policy = self._policy()
        xff = float(x_files_factor) if x_files_factor is not None else policy["xFilesFactor"]
        method = aggregation_method or policy["aggregationMethod"]

        in_place = new_path is None
        target = (
            os.path.join(os.path.dirname(self.path), f".{os.path.basename(self.path)}.{uuid.uuid4().hex}.tmp")
            if in_place
            else new_path
        )
        new_store = WhisperStore.create(
            self.spark, target, new_archives,
            x_files_factor=xff, aggregation_method=method,
        )

        # fetch every old archive over its full retention
        old_dense = []
        for a in self.archives:
            from_time = now - a.retention + a.seconds_per_point
            (ti, d) = self._fetch_archive_dense(a, from_time, now)
            old_dense.append((a, ti, d))

        if not use_aggregate:
            # coarsest-first (bin/whisper-resize.py:97): finer replays
            # land later and win slot conflicts via last-write-wins
            for a, _, d in sorted(
                old_dense, key=lambda t: t[0].seconds_per_point, reverse=True
            ):
                pts = d.filter(F.col("value").isNotNull()).select(
                    "metric", "ts", "value", F.lit(0).cast("long").alias("seq")
                )
                new_store.update_many(pts, now=now)
        else:
            # merged timeline preferring high precision: archive k>=1 only
            # contributes slots strictly older than archive k-1's first slot
            merged = None
            for k, (a, (fi, _, _), d) in enumerate(old_dense):
                part = d if k == 0 else d.filter(F.col("ts") < old_dense[k - 1][1][0])
                merged = part if merged is None else merged.unionByName(part)
            merged = merged.localCheckpoint()
            from .aggregation import aggregate_column

            for na in new_store.archives:
                step = na.seconds_per_point
                from_t = now - na.retention + now % step
                until_t = now + now % step + step
                n_intervals = (until_t - from_t) // step - 1
                binned = (
                    merged.filter(
                        (F.col("ts") >= from_t)
                        & (F.col("ts") < from_t + n_intervals * step)
                    )
                    .withColumn(
                        "its",
                        (F.lit(from_t) + ((F.col("ts") - from_t) / step).cast("long") * step),
                    )
                    .groupBy("metric", "its")
                    .agg(
                        aggregate_column(
                            method, "value", order=F.col("ts"),
                            expected_slots=F.count("*"),
                        ).alias("value"),
                        F.count("value").alias("_known"),
                        F.count("*").alias("_total"),
                    )
                    .filter(
                        (F.col("_known") > 0)
                        & (F.col("_known") / F.col("_total") >= F.lit(float(xff)))
                    )
                    .select(
                        "metric", F.col("its").alias("ts"), "value",
                        F.lit(0).cast("long").alias("seq"),
                    )
                )
                new_store.update_many(binned, now=now)

        if in_place:
            bak = self.path + f".bak.{uuid.uuid4().hex}"
            os.rename(self.path, bak)
            try:
                os.rename(target, self.path)
            except OSError:
                os.rename(bak, self.path)
                raise
            shutil.rmtree(bak, ignore_errors=True)
            self._policy_cache = None
            return self
        return new_store

    # ------------------------------------------------------------------ #
    # maintenance (ring-buffer replacement)
    # ------------------------------------------------------------------ #

    def compact(self, now: int | None = None) -> None:
        """Collapse multi-batch duplicates and drop expired rows — the
        LSM-compaction replacement for whisper's in-place ring overwrite.
        Atomic swap like whisper-resize (reference: bin/whisper-resize.py:208-225).

        Runs under the writer lock: an append landing between the
        compacted rewrite and the directory swap would be silently
        dropped otherwise.
        """
        if not self._has_data():
            return
        now = int(now) if now is not None else self._wallclock()
        with self._fs_lock(".append.lock"):
            self._compact_locked(now)

    def _compact_locked(self, now: int) -> None:
        df = self._lww(self._read_points())
        cond = F.lit(False)
        for a in self.archives:
            cond = cond | (
                (F.col("resolution") == a.seconds_per_point)
                & (F.col("ts") > now - a.retention)
            )
        tmp = os.path.join(self.path, f".points.{uuid.uuid4().hex}.tmp")
        self._write_points(df.filter(cond), tmp, "overwrite")
        old = self._points_path
        bak = os.path.join(self.path, f".points.{uuid.uuid4().hex}.bak")
        os.replace(old, bak)
        os.replace(tmp, old)
        shutil.rmtree(bak, ignore_errors=True)

    delete_expired = compact

    def vacuum(self, now: int | None = None) -> int:
        """Directory-level retention enforcement: delete every
        ``(resolution, tb)`` partition directory whose ENTIRE time range
        is past its archive's retention.  Returns the number of
        directories removed.

        This is the 100 TB complement to :meth:`compact`: compact
        rewrites the whole dataset (full scan + shuffle) to collapse
        duplicates AND trim expired rows; vacuum is O(#directories)
        metadata work with no data rewrite — the right cadence is
        frequent vacuums and occasional compacts.  A bucket ``tb`` spans
        ``[tb*span, (tb+1)*span)`` with ``span = resolution*TB_SLOTS``;
        it is deleted only when ``(tb+1)*span <= now - retention``, i.e.
        every slot in it is strictly unfetchable (fetch clamps
        ``from_time`` to ``now - retention``, reference whisper.py:927-933),
        so reads before/after a vacuum return identical timelines.

        Runs under the writer lock: a concurrent append could otherwise
        race the directory scan (it never APPENDS to an expired bucket —
        update_many drops expired points — but the rollup cascade reads
        sibling directories mid-write)."""
        now = int(now) if now is not None else self._wallclock()
        if not self._has_data():
            return 0
        removed = 0
        with self._fs_lock(".append.lock"):
            for a in self.archives:
                step = a.seconds_per_point
                span = step * TB_SLOTS
                for tb in self._tb_buckets(step):
                    if (tb + 1) * span <= now - a.retention:
                        shutil.rmtree(
                            os.path.join(self._points_path, f"resolution={step}", f"tb={tb}")
                        )
                        removed += 1
        return removed

    def compaction_report(self, now: int | None = None) -> DataFrame:
        """LSM bookkeeping per ``(resolution, tb, metric)`` — the
        operational view that tells an operator when :meth:`compact`
        (full rewrite) or :meth:`vacuum` (directory drop) is worth
        running, the observability piece of the append-only LWW design:

        - ``n_rows``: physical rows appended to the partition;
        - ``n_live``: distinct slots after last-write-wins (what a
          compact() rewrite would keep, expiry aside);
        - ``n_shadowed``: rows a compact() would drop because a later
          ``wseq`` overwrote the slot (``n_rows - n_live``);
        - ``n_expired_live``: live slots already past their archive's
          retention at ``now`` (what compact() would additionally trim
          and what vacuum() eventually reclaims wholesale);
        - ``live_value_sum``: deterministic decimal-exact sum of the
          live slot values (a cheap content checksum: unchanged by
          compact(), so before/after reports prove the rewrite lossless).

        One scan + two narrow aggregations keyed on the partition
        columns; no driver-side iteration, so the report costs the same
        one pass at any store size and prunes to a single archive or
        bucket via the usual partition filters if pre-filtered.
        """
        now = int(now) if now is not None else self._wallclock()
        ret = F.lit(None).cast("long")
        for a in self.archives:
            ret = F.when(
                F.col("resolution") == a.seconds_per_point,
                F.lit(a.retention),
            ).otherwise(ret)
        slots = (
            self._read_points()
            .groupBy("resolution", "tb", "metric", "ts")
            .agg(
                F.count("*").alias("n"),
                F.max_by("value", "wseq").alias("live_value"),
            )
        )
        return (
            slots.withColumn("_ret", ret)
            .groupBy("resolution", "tb", "metric")
            .agg(
                F.sum("n").cast("long").alias("n_rows"),
                F.count("*").cast("long").alias("n_live"),
                (F.sum("n") - F.count("*")).cast("long").alias("n_shadowed"),
                F.sum(
                    F.when(F.col("ts") <= F.lit(now) - F.col("_ret"), 1)
                    .otherwise(0)
                ).cast("long").alias("n_expired_live"),
                F.sum(F.col("live_value").cast("decimal(25,6)"))
                .cast("string").cast("double").alias("live_value_sum"),
            )
        )


def fetch_federated(
    stores,
    metrics=None,
    from_time: int | None = None,
    until_time: int | None = None,
    now: int | None = None,
    archive_step: int | None = None,
):
    """Merged range read across several stores — the graphite-web
    CLUSTER_SERVERS / multi-DATA_DIR read path: every backend fetches
    the range, and per (metric, slot) the FIRST store (list order) with
    a known value wins, later stores only fill its gaps (graphite
    readers merge results in configured order).

    Stores with heterogeneous retention schemas are all served: each
    fetches at its own best archive and its dense timeline is
    CONSOLIDATED (average, graphite-web's merge/normalize behavior)
    onto the common grid — the coarsest step any covering store
    selected, or a forced ``archive_step``.  A store is excluded only
    when it cannot honestly serve the target step (its finest covering
    archive is coarser than a forced finer step) or its fetch errors
    ("backend down"); every exclusion is logged with its reason —
    never silent.  ``InvalidTimeInterval`` propagates (the range is
    equally invalid for every store).

    Returns the standard ``((from, until, step), DataFrame)``
    dense-timeline contract, or None when no store covers the range.
    The merge is one unionByName + one groupBy((metric, ts)) — a
    single shuffle regardless of store count.
    """
    import logging

    from pyspark.sql import functions as F

    log = logging.getLogger(__name__)
    if not stores:
        return None

    # phase 1: every store fetches at its own best archive (lazy — no
    # job runs; this only builds plans and reads store headers)
    natives = []  # (index, store, (ti, df))
    excluded = []  # (index, reason)
    for i, s in enumerate(stores):
        try:
            res = s.fetch(
                metrics, from_time=from_time, until_time=until_time, now=now
            )
        except InvalidTimeInterval:
            raise  # caller error — the range is invalid for every store
        except Exception as exc:  # backend down / unreadable tree
            excluded.append((i, f"fetch failed: {exc!r}"))
            continue
        if res is None:
            excluded.append((i, "range outside retention"))
            continue
        natives.append((i, s, res))
    if natives:
        step = (
            archive_step
            if archive_step is not None
            else max(ti[2] for (_i, _s, (ti, _df)) in natives)
        )
    parts = []
    bucket_lo = None
    bucket_hi = None
    for i, s, (ti, df) in natives:
        (lo, hi, native) = ti
        if native != step:
            # prefer an exact archive at the target step when one exists
            # (forced steps may name a coarser archive than auto-select)
            try:
                exact = s.fetch(
                    metrics,
                    from_time=from_time,
                    until_time=until_time,
                    now=now,
                    archive_step=step,
                )
            except ValueError as exc:
                # only the documented "no archive with exactly this
                # step" signal falls through to consolidation; any
                # other ValueError is a real backend failure and must
                # be a LOGGED exclusion, never silent
                if "Invalid granularity" not in str(exc):
                    excluded.append((i, f"fetch failed: {exc!r}"))
                    continue
                exact = None
            except InvalidTimeInterval:
                raise
            except Exception as exc:
                excluded.append((i, f"fetch failed: {exc!r}"))
                continue
            if exact is not None:
                ((lo, hi, native), df) = exact
            elif native < step:
                # consolidate the fine dense timeline onto the coarse
                # grid: floor-align slots, average known values per
                # bucket (all-null bucket stays null) — graphite-web's
                # consolidation default.  The mean folds a SORTED value
                # array (bucket size is bounded by the step ratio), so
                # repeated reads are bit-identical under partial-
                # aggregation reorder WITHOUT the decimal route's
                # 6-decimal rounding of arbitrary stored doubles.
                members = F.array_sort(
                    F.collect_list(F.col("value"))
                )
                fold = F.aggregate(
                    members, F.lit(0.0), lambda acc, x: acc + x
                )
                df = df.groupBy(
                    "metric",
                    (F.floor(F.col("ts") / step) * step)
                    .cast("long")
                    .alias("ts"),
                ).agg(
                    F.when(
                        F.count("value") > 0,
                        fold / F.count("value"),
                    ).alias("value")
                )
                lo, hi = (lo // step) * step, ((hi - native) // step) * step + step
            else:
                excluded.append(
                    (i, f"finest covering archive ({native}s) coarser than "
                        f"requested step ({step}s)")
                )
                continue
        bucket_lo = lo if bucket_lo is None else min(bucket_lo, lo)
        bucket_hi = hi if bucket_hi is None else max(bucket_hi, hi)
        parts.append(
            df.select(
                "metric", "ts", "value",
                F.lit(len(parts)).alias("_prio"),
            )
        )
    for i, reason in excluded:
        log.warning("fetch_federated: store #%d excluded: %s", i, reason)
    if not parts:
        return None
    # the interval is the UNION of every included store's coverage —
    # pinning it to the FIRST native-step store silently discarded a
    # sibling store's wider retention at the same step (advisor finding,
    # round 6); bucket_lo/bucket_hi already track the union and every
    # store's bounds are step-aligned, so the dense-timeline contract
    # ((from, until, step), df) still holds
    ti_out = (bucket_lo, bucket_hi, step)
    allp = parts[0]
    for d in parts[1:]:
        allp = allp.unionByName(d)
    merged = allp.groupBy("metric", "ts").agg(
        F.min_by(
            "value", F.when(F.col("value").isNotNull(), F.col("_prio"))
        ).alias("value")
    )
    # consolidated stores floor-align while native intervals quantize
    # UP: clip the merge to the declared interval so the dense-timeline
    # contract ((from, until, step), df) holds for every consumer
    merged = merged.filter(
        (F.col("ts") >= ti_out[0]) & (F.col("ts") < ti_out[1])
    )
    return (ti_out, merged)


def _render(fetch, target, from_time, until_time, now, max_datapoints):
    """The render pipeline of ``WhisperStore.render`` and
    :func:`render_federated`: at-style times, one ``fetch`` (with
    ``WhisperStore.fetch``'s signature) of every series, the target over
    its step, then maxDataPoints consolidation with the target's
    consolidateBy method.
    Returns ``(frame, step)``, or None when ``fetch`` does."""
    import time as _time

    from .render import (
        consolidate,
        consolidation_method,
        evaluate_target,
        parse_at_time,
        parse_target,
    )

    now = now or int(_time.time())
    until = parse_at_time(until_time, now) if until_time is not None else now
    frm = parse_at_time(from_time, now) if from_time is not None else until - 86400
    # every stored series, not the target's literal names: a name the
    # store lacks must render no series, where a fetch of it by name
    # gives an all-NULL one
    fetched = fetch(None, from_time=frm, until_time=until, now=now)
    if fetched is None:
        return None
    (ti, df) = fetched
    step = ti[2]
    out = evaluate_target(df.select("metric", "ts", "value"), target, step=step)
    if max_datapoints:
        how = consolidation_method(parse_target(target))
        out, step = consolidate(out, max_datapoints, step, how)
    return (out, step)


def render_federated(
    stores,
    target: str,
    from_time=None,
    until_time=None,
    now: int | None = None,
    max_datapoints: int | None = None,
):
    """graphite-web over CLUSTER_SERVERS: evaluate a render target on
    the federated multi-store view — :func:`fetch_federated`'s merged
    timeline fed through the target language, with the same at-style
    times and maxDataPoints handling as ``WhisperStore.render``.
    Returns ``(frame, step)`` or None."""
    return _render(
        partial(fetch_federated, stores), target, from_time, until_time, now, max_datapoints
    )
