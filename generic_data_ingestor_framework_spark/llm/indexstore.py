"""One versioned store for the engine's cross-run indexes.

The band index (``llm/dedup.py``: MinHash band keys per document) and
the ANN index (``llm/similarity.py``: IVF cell assignment and PQ
codes) share one lifecycle, and this module owns it. A family
(``Family``) names its id column and the relations that take
mutations; it keeps only its payload: what a row holds, how it is
encoded and how it is probed.

Layout, path-addressed parquet under one ROOT (a new process reads it
with the path alone, no metastore):

- ``<rel>``: the base relations, written by ``save``;
- ``batches/<tag>/<rel>``: one mutation batch per tag, written in
  overwrite mode, so a retried batch replaces itself. A batch at
  generation 0 is a plain append (no ``gen`` column; its ids are new);
  a batch at generation ``g > 0`` supersedes its ids at ``g``;
- ``tombstones/<tag>``: ``(id, gen)`` delete marks;
- ``meta``: one row (format version, effective row count) for a family
  whose loader checks it (the ANN index): deleted first by every
  mutation and written LAST by every commit, so a crash mid-write
  leaves no meta behind and the loader rebuilds. A family without a
  meta must tolerate a replayed batch: compaction swaps the base in
  before it clears the batches, so a crash between the two re-applies
  them to the new base (a supersede or tombstone re-applies to the
  same result; a re-applied append adds duplicate rows, which the
  family's ``live`` step drops at the next compaction).

Effective view: per id, the latest generation wins and a tombstone
wins a tie (``max(struct(gen, tomb))``: false < true). Winners are
resolved on the batch-sized mark relation and masked out of the base
by a BROADCAST anti join, so the base never shuffles. The broadcast is
safe only while the marks stay batch-sized: the guard refuses a view
whose estimate exceeds the session's broadcast budget, and the
``maybe_compact`` policy compacts before that happens. Compaction
stages the effective view beside each relation and swaps it in,
physically dropping superseded and tombstoned rows.

Every write leaves at most ``min(cpus, ceil(bytes / 128 MB))`` files
per relation (per partition directory for a partitioned relation),
sized from the optimizer's estimate, so sizing runs no Spark job.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from generic_data_ingestor_framework_spark.fileops import (
    hadoop_delete,
    hadoop_fs_path,
    hadoop_list_dirs,
    sf_tag,
)

# Broadcast-size estimate for one masked id: an 8-byte key plus
# hash-relation overhead (Spark's LongHashedRelation is ~2-4x the raw
# key bytes). Deliberately conservative: the pressure policy should
# compact well before the driver is at risk.
BCAST_BYTES_PER_ID = 32
TARGET_FILE_BYTES = 128 << 20


def _files_for(spark: SparkSession, df: DataFrame) -> int:
    """``min(cpus, ceil(bytes / TARGET_FILE_BYTES))`` from the optimized
    plan's size estimate: statistics only, no job."""
    est = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    cpus = spark.sparkContext.defaultParallelism
    return max(1, min(cpus, -(-est // TARGET_FILE_BYTES)))


def _write_all(spark: SparkSession, writes: list[tuple[DataFrame, str, str | None]]) -> None:
    """Overwrite each ``(df, path, partition column)``, sized. Several
    writes run concurrently so one job's straggler tail back-fills with
    another's tasks; every plan is built here, on the calling thread,
    so the pool threads only run write jobs."""
    from concurrent.futures import ThreadPoolExecutor

    def _w(df: DataFrame, path: str, part: str | None) -> None:
        w = df.write.mode("overwrite")
        (w.partitionBy(part) if part else w).parquet(path)

    sized = [(df.coalesce(_files_for(spark, df)), path, part) for df, path, part in writes]
    if len(sized) == 1:
        _w(*sized[0])
        return
    with ThreadPoolExecutor(max_workers=len(sized)) as pool:
        for f in [pool.submit(_w, *args) for args in sized]:
            f.result()


# ---------------------------------------------------------------------------
# Staleness memo: mutation epoch + meta fingerprint
# ---------------------------------------------------------------------------


def _epoch(spark: SparkSession, root: str) -> list[int]:
    from generic_data_ingestor_framework_spark.cachemgr import shared_value

    return shared_value(spark, ("index_epoch", root), lambda: [0])


def bump(spark: SparkSession, root: str) -> None:
    """Advance ``root``'s mutation epoch: every writer calls this, so a
    memo over the index can never serve a view this process mutated
    (including uncommitted, meta-less states)."""
    _epoch(spark, root)[0] += 1


def fingerprint(spark: SparkSession, root: str) -> tuple:
    """(name, mtime, size) of every part file under ``{root}/meta``: one
    FS metadata call, no job. Every committing writer rewrites meta last
    (new part-file names), so any out-of-process commit changes it. The
    file system, the path and the part-file filter are resolved once
    per session and root."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_value

    def resolve():
        fs, p = hadoop_fs_path(spark, f"{root}/meta")
        return fs, p, spark._jvm.org.apache.hadoop.fs.GlobFilter("part-*")

    fs, p, parts = shared_value(spark, ("index_meta_path", root), resolve)
    if not fs.exists(p):
        return ()
    return tuple(
        sorted(
            (st.getPath().getName(), st.getModificationTime(), st.getLen())
            for st in fs.listStatus(p, parts)
        )
    )


def memo(spark: SparkSession, root: str, key: tuple, builder):
    """``builder()`` memoized per (``key``, root, epoch, fingerprint)
    through ``cachemgr``: valid until this process mutates the index or
    another process commits to it. A new version evicts the entries of
    the versions it supersedes. The value is filed under the version the
    build leaves, so a builder that rebuilds the index is hit next time."""
    from generic_data_ingestor_framework_spark.cachemgr import (
        evict_prefix,
        has_value,
        shared_value,
    )

    def version() -> tuple:
        return (*key, root, _epoch(spark, root)[0], fingerprint(spark, root))

    full = version()
    if has_value(spark, full):
        return shared_value(spark, full, builder)
    evict_prefix(spark, (*key, root))
    value = builder()
    return shared_value(spark, version(), lambda: value)


def member_root(spark: SparkSession, name: str) -> str:
    """A gate member's own index root under the warehouse, namespaced
    per session (the Spark application id) so two sessions sharing a
    warehouse never mutate the same directory. Every path named
    ``<name>_*`` — this session's included, for idempotent re-runs — is
    reaped first, so repeated sweeps don't accumulate index copies:
    safe ONLY under the single-writer-per-warehouse contract, where any
    other session's root is a dead session's leftover, never a live
    concurrent run."""
    import re

    for sub in hadoop_list_dirs(spark, spark.conf.get("spark.sql.warehouse.dir")):
        if sub.rstrip("/").rsplit("/", 1)[-1].startswith(f"{name}_"):
            hadoop_delete(spark, sub)
    app = re.sub(r"[^A-Za-z0-9_]", "_", spark.sparkContext.applicationId)
    return f"{spark.conf.get('spark.sql.warehouse.dir')}/{name}_{app}"


# ---------------------------------------------------------------------------
# The store
# ---------------------------------------------------------------------------


@dataclass(frozen=True, eq=False)
class Family:
    """One index family's shape. ``deltas``: the relations that take
    batches (the first one also sizes the meta count and the pressure
    gauges); ``partition``: relation -> partition column; ``live``: the
    rows compaction keeps of a relation's effective view; ``meta``:
    ``(version, count column)`` of the meta row, for a family whose
    loader checks it (``None``: the family keeps no meta)."""

    name: str
    id_col: str
    deltas: tuple[str, ...]
    partition: dict[str, str] = field(default_factory=dict)
    live: Callable[[DataFrame], DataFrame] | None = None
    meta: tuple[int, str] | None = None

    # -- mutations ----------------------------------------------------------

    def _invalidate(self, spark: SparkSession, root: str) -> None:
        """Delete meta before mutating."""
        if self.meta:
            hadoop_delete(spark, f"{root}/meta")

    def _commit(
        self, spark: SparkSession, root: str, write_meta: bool = True,
        count: int | None = None,
    ) -> int:
        """Write meta LAST and bump the epoch. ``write_meta=False``
        leaves meta absent for a caller issuing several mutations back
        to back (the state a crash mid-write leaves); only the last one
        commits. Returns the meta count (computed from the effective
        view unless given), else -1."""
        from generic_data_ingestor_framework_spark.session import local_relation

        n = -1
        if write_meta and self.meta:
            version, count_col = self.meta
            n = count if count is not None else self.view(
                spark, root, self.deltas[0], guard=False
            ).count()
            local_relation(
                spark, [(version, n)], f"version int, {count_col} bigint"
            ).write.mode("overwrite").parquet(f"{root}/meta")
        bump(spark, root)
        return n

    def save(
        self, spark: SparkSession, root: str, rels: dict[str, DataFrame],
        count: int | None = None,
    ) -> None:
        """Seed the base relations at generation 0 (overwrite), clearing
        every batch and tombstone, then commit."""
        self._invalidate(spark, root)
        hadoop_delete(spark, f"{root}/batches")
        hadoop_delete(spark, f"{root}/tombstones")
        _write_all(
            spark, [(df, f"{root}/{rel}", self.partition.get(rel)) for rel, df in rels.items()]
        )
        self._commit(spark, root, count=count)

    def write_batch(
        self, spark: SparkSession, root: str, tag: str, rels: dict[str, DataFrame],
        gen: int = 0, write_meta: bool = True,
    ) -> int:
        """Write one batch under ``batches/<tag>``: a plain append at
        generation 0, a supersede of its ids at ``gen > 0`` (``gen``
        must exceed every generation written for them). Returns the
        commit's meta count (see ``_commit``)."""
        self._invalidate(spark, root)
        tag = sf_tag(tag)
        _write_all(spark, [
            (
                df.withColumn("gen", F.lit(gen)) if gen else df,
                f"{root}/batches/{tag}/{rel}",
                self.partition.get(rel),
            )
            for rel, df in rels.items()
        ])
        return self._commit(spark, root, write_meta)

    def write_tombstones(
        self, spark: SparkSession, root: str, tag: str, ids: DataFrame, gen: int,
        write_meta: bool = True,
    ) -> int:
        """Tombstone ``ids`` (a one-column frame of the family's ids) at
        ``gen`` under ``tombstones/<tag>``."""
        self._invalidate(spark, root)
        _write_all(spark, [(
            ids.toDF(self.id_col).withColumn("gen", F.lit(gen)),
            f"{root}/tombstones/{sf_tag(tag)}",
            None,
        )])
        return self._commit(spark, root, write_meta)

    # -- reads --------------------------------------------------------------

    def batch_paths(self, spark: SparkSession, root: str, rel: str) -> list[str]:
        """``batches/<tag>/<rel>`` paths, sorted (one FS glob call)."""
        fs, p = hadoop_fs_path(spark, f"{root}/batches/*/{rel}")
        sts = fs.globStatus(p)
        return sorted(st.getPath().toString() for st in sts) if sts else []

    def _parts(self, spark: SparkSession, root: str, rel: str):
        """(base ∪ appends, supersede batches, tombstones) of ``rel``."""
        base = spark.read.parquet(f"{root}/{rel}")
        deltas = []
        for path in self.batch_paths(spark, root, rel):
            b = spark.read.parquet(path)
            if "gen" in b.columns:
                deltas.append(b)
            else:
                base = base.unionByName(b)
        tombs = [spark.read.parquet(p) for p in hadoop_list_dirs(spark, f"{root}/tombstones")]
        return base, deltas, tombs

    def view(self, spark: SparkSession, root: str, rel: str, guard: bool = True) -> DataFrame:
        """The EFFECTIVE view of ``rel``. With no supersede or tombstone
        batch it is the base plus appends, no extra work. ``guard=False``
        is the maintenance path (compaction, meta recount): no guard and
        no forced broadcast (AQE still broadcasts a small side; an
        oversized one merges as a shuffle join), so compaction can drain
        exactly the delta the guard refuses to probe."""
        from generic_data_ingestor_framework_spark.scale import broadcast_threshold_bytes

        base, deltas, tombs = self._parts(spark, root, rel)
        if not deltas and not tombs:
            return base
        idc = self.id_col
        marks = [t.select(idc, "gen", F.lit(True).alias("tomb")) for t in tombs] + [
            d.select(idc, "gen", F.lit(False).alias("tomb")) for d in deltas
        ]
        win = (
            reduce(DataFrame.unionByName, marks)
            .groupBy(idc)
            .agg(F.max(F.struct("gen", "tomb")).alias("__w"))
            .select(idc, "__w.gen", "__w.tomb")
        )
        # budget <= 0: the operator disabled broadcasting session-wide;
        # honor that by dropping the forced hint too (AQE decides)
        budget = broadcast_threshold_bytes(spark)
        hinted = guard and budget > 0
        if hinted:
            est = win.count() * BCAST_BYTES_PER_ID
            if est > budget:
                raise RuntimeError(
                    f"{self.name} index delta too large to broadcast-mask "
                    f"(~{est} bytes estimated vs {budget} budget): compact "
                    f"{root} (the {self.name}_auto_compact pipeline step) "
                    f"before probing"
                )
        hint = F.broadcast if hinted else (lambda d: d)
        out = base.join(hint(win.select(idc)), idc, "anti")
        if deltas:
            live = win.filter(~F.col("tomb")).select(idc, "gen")
            out = out.unionByName(
                reduce(DataFrame.unionByName, deltas).join(hint(live), [idc, "gen"]).drop("gen")
            )
        return out

    # -- pressure, policy, compaction --------------------------------------

    def pressure_stats(self, spark: SparkSession, root: str) -> dict:
        """Delta/base PRESSURE: distinct ids in the base plus appends,
        distinct ids under a supersede or tombstone mark (what the view
        broadcasts), their ratio in basis points and the broadcast
        estimate against the session's budget. One aggregate job."""
        from generic_data_ingestor_framework_spark.scale import broadcast_threshold_bytes

        idc = self.id_col
        base, deltas, tombs = self._parts(spark, root, self.deltas[0])
        parts = [base.select(idc, F.lit(False).alias("__m"))] + [
            d.select(idc, F.lit(True).alias("__m")) for d in deltas + tombs
        ]
        row = (
            reduce(DataFrame.unionByName, parts)
            .agg(
                F.count_distinct(F.when(~F.col("__m"), F.col(idc))).alias("b"),
                F.count_distinct(F.when(F.col("__m"), F.col(idc))).alias("d"),
            )
            .collect()[0]
        )
        base_ids, delta_ids = int(row["b"]), int(row["d"])
        threshold = broadcast_threshold_bytes(spark)
        est_bytes = delta_ids * BCAST_BYTES_PER_ID
        return {
            "base_ids": base_ids,
            "delta_ids": delta_ids,
            "pressure_bp": (delta_ids * 10000) // base_ids if base_ids else 10000,
            "est_broadcast_bytes": est_bytes,
            "broadcast_threshold_bytes": threshold,
            "over_broadcast_budget": 0 < threshold < est_bytes,
        }

    def maybe_compact(
        self, spark: SparkSession, root: str, max_delta_ratio: float = 0.10,
        stats: dict | None = None,
    ) -> dict:
        """AUTO-COMPACT policy: compact when the marked ids exceed
        ``max_delta_ratio`` of the base ids OR their broadcast estimate
        exceeds the session's budget. Returns the pressure stats plus
        ``compacted`` and ``reason``. ``stats``: the CURRENT
        ``pressure_stats``, when the caller just measured it."""
        if stats is None:
            stats = self.pressure_stats(spark, root)
        over_ratio = stats["delta_ids"] > max_delta_ratio * stats["base_ids"]
        reason = (
            "delta_ratio" if over_ratio
            else "broadcast_budget" if stats["over_broadcast_budget"]
            else ""
        )
        if reason and stats["delta_ids"] > 0:
            self.compact(spark, root)
            return {**stats, "compacted": True, "reason": reason}
        return {**stats, "compacted": False, "reason": reason}

    def compact(self, spark: SparkSession, root: str) -> int:
        """MAJOR COMPACTION: stage each delta relation's effective view
        beside it, swap it in, clear batches and tombstones, commit.
        Superseded and tombstoned rows, and the rows the family's
        ``live`` step drops, are physically dropped; results are
        identical before and after. A crash leaves meta absent (a
        staging directory is overwritten by the next compaction).
        Returns the compacted first relation's row count."""
        self._invalidate(spark, root)
        writes = []
        for rel in self.deltas:
            v = self.view(spark, root, rel, guard=False)
            writes.append(
                (self.live(v) if self.live else v, f"{root}/{rel}__compact",
                 self.partition.get(rel))
            )
        _write_all(spark, writes)
        for rel in self.deltas:
            hadoop_delete(spark, f"{root}/{rel}")
            fs, src = hadoop_fs_path(spark, f"{root}/{rel}__compact")
            _, dst = hadoop_fs_path(spark, f"{root}/{rel}")
            fs.rename(src, dst)
        hadoop_delete(spark, f"{root}/batches")
        hadoop_delete(spark, f"{root}/tombstones")
        n = spark.read.parquet(f"{root}/{self.deltas[0]}").count()
        self._commit(spark, root, count=n)
        return n
