"""Small-file compaction — the table-maintenance operator every
100 TB parquet estate runs continuously (what OPTIMIZE does in table
formats): many small files destroy scan throughput (per-file open
cost, tiny row groups, starved vectorized readers) and bloat the
file listing the planner must process.

Design points that matter at scale:

- **Rewrite cost is proportional to SMALL-file bytes only.** Files
  already at/above the target are left untouched — the plan selects
  victims under ``small_threshold`` and bin-packs only those.
- **Bin packing is first-fit-decreasing** on file size into
  ``target_bytes`` bins: FFD is the classic 11/9-OPT guarantee and
  keeps every output file near the target instead of producing one
  giant merged file plus crumbs.
- ``compact_bucketed_table`` plans each bucket's files with
  ``plan_compaction_files`` and rewrites all bins of a table in ONE
  job (``rewrite_groups``), then publishes them.

The bucketed-index lifecycle
----------------------------
Both index families (the MinHash band index in ``dedup/minhash.py``,
the IVF inverted lists in ``similarity/knn.py``) are tables of one
prefix, the main one written BUCKETED so a probe reads co-located
(exchange-free, bucket-prunable) files. The families only say how
their rows are computed, which table suffixes they own, and which
id column names a row; the lifecycle is this module's:

- **write**: ``reset_index`` drops the prefix's tables, tombstones
  included, and removes their directories (a fresh session's catalog
  forgets an earlier session's managed tables, but the files survive
  and ``saveAsTable`` refuses the location). The family then writes
  with ``sources.writers.write_bucketed``.
- **append**: ``append_bucketed`` reads the bucket count and columns
  from the catalog (a caller-supplied count could disagree with the
  table) and writes the delta's own per-bucket files next to the
  existing ones, which are never read or rewritten. Every file of
  bucket N still holds only keys hashing to N, so the bucketed probe
  survives any number of appends.
- **delete**: ``delete_ids`` appends ids to ``{prefix}_dels`` (the
  LSM/tombstone pattern: a delete rewrites nothing). ``live_rows``
  is the one reader of an index table: it broadcast-anti-joins the
  tombstones whenever that table exists, map-side, so the probe plan
  keeps its bucketed scan. No tombstone table means nothing is
  deleted; the probe pays one catalog lookup.
- **vacuum / compact**: ``rewrite_groups`` rewrites groups of a
  table's files, each group into ONE file published in place.
  Compaction's groups are first-fit-decreasing bins within a bucket;
  vacuum's are the groups holding a tombstoned row — a whole bucket
  of a bucketed table, a single file of an un-bucketed one
  (``_groups_by_bucket``) — and drop the tombstoned rows on the way.
  Files merge only within a bucket and keep its ``_<bucket id>`` name
  encoding, so the bucketed reader still accepts them. ``vacuum_index``
  drops the tombstone table LAST: a rerun after any crash re-finds
  whatever still holds tombstoned rows and converges.
- **publish**: every replacement goes through ``publish_replacing``
  (manifest first), and every maintenance op starts with
  ``recover_inprogress``, so a crash at any step is finalized or
  rolled back exactly — no lost and no duplicated rows.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class CompactionPlan:
    bins: list = field(default_factory=list)      # list[list[path]]
    untouched: list = field(default_factory=list)  # list[path]
    small_bytes: int = 0
    total_bytes: int = 0


@dataclass
class BucketCompactionStats:
    """Before/after accounting for ``compact_bucketed_table`` — the
    numbers a maintenance scheduler alerts on."""

    n_files_before: int = 0
    n_files_after: int = 0
    n_buckets_touched: int = 0
    bytes_rewritten: int = 0
    total_bytes: int = 0


def plan_compaction_files(
    files: list,
    target_bytes: int = 128 * 1024 * 1024,
    small_threshold: float = 0.5,
) -> CompactionPlan:
    """Bin-pack every file of ``files`` smaller than
    ``small_threshold * target_bytes`` into ``target_bytes`` bins,
    first-fit-decreasing. Files at/above the threshold are listed as
    untouched."""
    sizes = {f: os.path.getsize(f) for f in files}
    plan = CompactionPlan(total_bytes=sum(sizes.values()))
    cutoff = small_threshold * target_bytes
    victims = sorted(
        (f for f in files if sizes[f] < cutoff),
        key=lambda f: (-sizes[f], f),
    )
    plan.untouched = [f for f in files if sizes[f] >= cutoff]
    plan.small_bytes = sum(sizes[f] for f in victims)
    bin_free: list = []  # parallel to plan.bins
    for f in victims:
        placed = False
        for i, free in enumerate(bin_free):
            if sizes[f] <= free:
                plan.bins[i].append(f)
                bin_free[i] -= sizes[f]
                placed = True
                break
        if not placed:
            plan.bins.append([f])
            bin_free.append(target_bytes - sizes[f])
    return plan


# Spark's BucketingUtils encodes the bucket id as the LAST _<digits>
# group of the file name (e.g. part-00000-<uuid>_00003.c000.snappy
# .parquet) — a compacted replacement file must carry the same
# encoding or the bucketed reader rejects it.
_BUCKET_ID_RE = re.compile(r"_(\d+)(?:\..*)?$")


def bucket_id_of(file_name: str) -> int | None:
    m = _BUCKET_ID_RE.search(file_name)
    return int(m.group(1)) if m else None


def table_location(spark: SparkSession, table: str) -> str:
    """Filesystem path of a managed table (the warehouse-dir dance
    shared with write_minhash_index / write_ivf_index)."""
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    parts = table.lower().split(".")
    rel = parts[-1] if len(parts) == 1 else f"{parts[-2]}.db/{parts[-1]}"
    return os.path.join(wh, rel)


def publish_replacing(
    path: str, src: str, originals: list, dest_name: str
) -> None:
    """Crash-safe publish of a rewritten file that REPLACES a set of
    original files in the same directory (shared by
    ``compact_bucketed_table`` and ``vacuum_ivf_index``). Multi-file
    swaps have no atomic rename, so the protocol writes a tiny
    MANIFEST first and every crash window is mechanically recoverable
    by ``recover_inprogress``:

    1. write ``.{dest}.inprogress.manifest`` (dest + original names)
    2. move ``src`` into the dir as ``.{dest}.inprogress`` — both
       dot-prefixed, so Spark's file index never sees them
    3. delete the originals
    4. same-dir atomic rename pending → live
    5. delete the manifest

    The key property: the pending file holds the FULL union of the
    originals' rows, so recovery after ANY crash is "delete whatever
    originals remain, finalize the pending file" — never a silent
    loss and never duplication. A crash before step 2 rolls back
    (originals intact, manifest dropped)."""
    pending = os.path.join(path, "." + dest_name + ".inprogress")
    manifest = pending + ".manifest"
    # manifest write is itself atomic (tmp + same-dir rename): a
    # crash mid-write must not leave truncated JSON that wedges every
    # later recover_inprogress (r12 review)
    with open(manifest + ".tmp", "w") as f:
        json.dump(
            {
                "dest": dest_name,
                "originals": [os.path.basename(g) for g in originals],
            },
            f,
        )
        f.flush()
        os.fsync(f.fileno())
    os.rename(manifest + ".tmp", manifest)
    # the pending file must only ever exist COMPLETE: a bare
    # shutil.move is atomic only same-filesystem — cross-fs it copies,
    # and a crash mid-copy would leave a partial pending file that
    # recovery would finalize (silent loss). Stage the copy under a
    # ".copying" name recovery ignores, then same-dir atomic rename.
    staging = pending + ".copying"
    shutil.copy2(src, staging)
    os.rename(staging, pending)
    os.remove(src)
    for g in originals:
        os.remove(g)
    os.rename(pending, os.path.join(path, dest_name))
    os.remove(manifest)


def recover_inprogress(path: str) -> int:
    """Finalize or roll back interrupted ``publish_replacing`` runs —
    called at the entry of every maintenance op over ``path`` (r11
    advice: an interrupted compaction must not silently drop rows on
    the next read). For each leftover manifest: if the pending file
    exists it holds the complete union, so any still-present
    originals are deleted and the pending file is renamed live
    (exact — no loss, no duplication); if the pending file is absent
    the crash preceded step 2 and the originals are intact, so the
    manifest is simply dropped. A dot-prefixed ``.inprogress`` file
    with NO manifest cannot be attributed and raises. Returns the
    number of manifests processed."""
    n = 0
    for name in sorted(os.listdir(path)):
        # interrupted manifest writes (".manifest.tmp") and staged
        # cross-fs copies (".inprogress.copying") are pre-publish
        # garbage by construction — never live, safe to drop
        if name.endswith(".manifest.tmp") or name.endswith(
            ".inprogress.copying"
        ):
            os.remove(os.path.join(path, name))
            continue
        if not name.endswith(".inprogress.manifest"):
            continue
        manifest = os.path.join(path, name)
        # pending name is derivable from the manifest FILE NAME, so
        # an unreadable manifest (legacy non-atomic write) can still
        # be classified: no pending file ⇒ pure rollback
        pending = manifest[: -len(".manifest")]
        try:
            with open(manifest) as f:
                meta = json.load(f)
        except (ValueError, OSError):
            if os.path.exists(pending):
                raise RuntimeError(
                    f"unreadable manifest {manifest} with a pending "
                    "file present — originals unknown; resolve manually"
                )
            os.remove(manifest)
            n += 1
            continue
        if os.path.exists(pending):
            for g in meta["originals"]:
                gp = os.path.join(path, g)
                if os.path.exists(gp):
                    os.remove(gp)
            os.rename(pending, os.path.join(path, meta["dest"]))
        os.remove(manifest)
        n += 1
    orphans = [
        f
        for f in os.listdir(path)
        if f.endswith(".inprogress") and f.startswith(".")
    ]
    if orphans:
        raise RuntimeError(
            f"unattributable in-progress files in {path}: {orphans} — "
            "no manifest survives for them, so whether their originals "
            "were deleted is unknown; inspect and resolve manually"
        )
    return n


def _parquet_files(path: str) -> list:
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )


def _read_files(spark: SparkSession, table: str, files: list) -> DataFrame:
    """Some of ``table``'s files, read with the catalog's schema: a
    parquet read that infers it runs a Spark job for the footers."""
    return spark.read.schema(spark.table(table).schema).parquet(*files)


def _groups_by_bucket(files: list) -> list:
    """The files of each bucket id, in listing order; a file with no
    bucket id (an un-bucketed table) is a group of its own."""
    groups: dict = {}
    for f in files:
        b = bucket_id_of(os.path.basename(f))
        groups.setdefault(f if b is None else b, []).append(f)
    return list(groups.values())


def rewrite_groups(
    spark: SparkSession, table: str, groups: list, transform=None
) -> None:
    """Rewrite each group (a list of files of ``table``) into ONE file
    that replaces it, then REFRESH the table.

    All groups are rewritten by one Spark write: each row is tagged
    with its group (``_g``, looked up from its file name),
    ``transform`` runs on the tagged rows (vacuum's tombstone
    anti-join), and ``repartition(k, "_g")`` + ``partitionBy("_g")``
    writes exactly one file per non-empty group to a temp dir. Hash
    partitioning keeps a group in one task for any k, so k is capped
    at the default parallelism: a task per group cost ~0.3 s more for
    32 groups on 4 cores, and a job per group ~2 s more. Each file is
    then published with ``publish_replacing`` under a name that keeps
    the group's bucket id. A group left with no rows has no output
    file; its originals are removed (only a transform can empty a
    group, and a rerun re-finds any it did not finish)."""
    path = table_location(spark, table)
    if groups:
        tmp = path + ".rewrite.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        group_of = F.create_map(
            *[
                F.lit(x)
                for i, g in enumerate(groups)
                for f in g
                for x in (os.path.basename(f), i)
            ]
        )
        df = _read_files(spark, table, [f for g in groups for f in g])
        cols = df.columns
        df = df.withColumn("_g", group_of[F.col("_metadata.file_name")])
        if transform is not None:
            df = transform(df)
        k = min(len(groups), spark.sparkContext.defaultParallelism)
        (
            df.select(*cols, "_g")
            .repartition(k, "_g")
            .write.partitionBy("_g")
            .parquet(tmp)
        )
        for i, g in enumerate(groups):
            out = os.path.join(tmp, f"_g={i}")
            outs = _parquet_files(out) if os.path.isdir(out) else []
            if not outs:
                for f in g:
                    os.remove(f)
                continue
            assert len(outs) == 1, outs
            b = bucket_id_of(os.path.basename(g[0]))
            tag = "-c000" if b is None else f"_{b:05d}.c000"
            publish_replacing(
                path,
                outs[0],
                g,
                f"part-{i:05d}-{uuid.uuid4().hex}{tag}.snappy.parquet",
            )
        shutil.rmtree(tmp, ignore_errors=True)
    spark.sql(f"REFRESH TABLE {table}")


def compact_bucketed_table(
    spark: SparkSession,
    table: str,
    target_bytes: int = 128 * 1024 * 1024,
    small_threshold: float = 0.5,
) -> BucketCompactionStats:
    """Compact a BUCKETED managed table in place: every append leaves
    a fresh set of per-bucket small files next to the existing ones,
    and without compaction the file count grows linearly with appends
    forever. Each bucket's files are FFD bin-packed
    (``plan_compaction_files``); every bin of two or more files
    becomes one file (``rewrite_groups``). Rewrite cost is
    proportional to small-file bytes; files at/above the threshold,
    or alone in their bin, are never read."""
    path = table_location(spark, table)
    recover_inprogress(path)
    files = _parquet_files(path)
    stats = BucketCompactionStats(
        n_files_before=len(files),
        total_bytes=sum(os.path.getsize(f) for f in files),
    )
    groups = []
    for fs in _groups_by_bucket(files):
        plan = plan_compaction_files(fs, target_bytes, small_threshold)
        bins = [g for g in plan.bins if len(g) >= 2]
        stats.n_buckets_touched += bool(bins)
        stats.bytes_rewritten += sum(os.path.getsize(f) for g in bins for f in g)
        groups += bins
    rewrite_groups(spark, table, groups)
    stats.n_files_after = len(_parquet_files(path))
    return stats


def _dels_table(prefix: str) -> str:
    return f"{prefix}_dels"


def reset_index(spark: SparkSession, prefix: str, suffixes: tuple) -> None:
    """Drop the index tables ``{prefix}{suffix}`` and the prefix's
    tombstones, and remove their leftover directories, so a build
    starts clean and never inherits an earlier generation's deletes."""
    for t in [prefix + s for s in suffixes] + [_dels_table(prefix)]:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(table_location(spark, t), ignore_errors=True)


def _bucket_spec(spark: SparkSession, table: str) -> tuple:
    """(bucket count, bucket columns) the table was written with, from
    the session catalog (~2 ms warm on a 4-core host; ``DESCRIBE
    FORMATTED`` takes ~25 ms)."""
    js = spark._jsparkSession
    spec = (
        js.sessionState()
        .catalog()
        .getTableMetadata(js.sessionState().sqlParser().parseTableIdentifier(table))
        .bucketSpec()
        .get()
    )
    return spec.numBuckets(), spec.bucketColumnNames().mkString(",").split(",")


def append_bucketed(spark: SparkSession, rows: DataFrame, table: str) -> None:
    """Append ``rows`` to a bucketed table with the table's own bucket
    spec. The write stage is sized to the delta: k tasks, k the
    largest divisor of the bucket count n no larger than ``rows``'
    partition count. k | n gives ``pmod(h, n) mod k == pmod(h, k)``,
    so each bucket stays in one task — one file per touched bucket —
    without an n-task stage per small batch. ``rows`` must have no
    exchange in its plan (e.g. a ``localCheckpoint``): its partition
    count is read from its RDD, which would otherwise run the shuffle."""
    n, cols = _bucket_spec(spark, table)
    parts = rows._jdf.rdd().getNumPartitions()
    k = max((d for d in range(1, n + 1) if n % d == 0 and d <= parts), default=1)
    (
        rows.repartition(k, *cols)
        .write.mode("append")
        .format("parquet")
        .bucketBy(n, *cols)
        .saveAsTable(table)
    )


def delete_ids(ids: DataFrame, prefix: str, id_col: str) -> None:
    """Tombstone ``ids``: append them to ``{prefix}_dels``. Nothing in
    the index tables is read or rewritten."""
    ids.select(id_col).write.mode("append").format("parquet").saveAsTable(
        _dels_table(prefix)
    )


def live_rows(
    spark: SparkSession, table: str, prefix: str, id_col: str
) -> DataFrame:
    """``table``'s rows minus the prefix's tombstoned ids."""
    rows = spark.table(table)
    if not spark.catalog.tableExists(_dels_table(prefix)):
        return rows
    dels = spark.table(_dels_table(prefix)).select(id_col)
    return rows.join(F.broadcast(dels), id_col, "left_anti")


def vacuum_index(
    spark: SparkSession, prefix: str, tables: tuple, id_col: str
) -> int:
    """Fold the tombstones into ``tables``: rewrite, without the
    tombstoned rows, every group (``_groups_by_bucket``) holding one,
    leave every other file byte-identical, then drop the tombstone
    table. Returns the number of distinct ids vacuumed."""
    dels_t = _dels_table(prefix)
    if not spark.catalog.tableExists(dels_t):
        return 0
    dels = F.broadcast(spark.table(dels_t).select(id_col))
    n_dels = dels.distinct().count()
    for table in tables:
        path = table_location(spark, table)
        recover_inprogress(path)
        files = _parquet_files(path)
        hit = set()
        if files:  # an index whose every row was vacuumed has none
            hit = {
                r.f
                for r in _read_files(spark, table, files)
                .select(id_col, F.col("_metadata.file_name").alias("f"))
                .join(dels, id_col, "left_semi")
                .select("f")
                .distinct()
                .collect()
            }
        groups = [
            g
            for g in _groups_by_bucket(files)
            if any(os.path.basename(f) in hit for f in g)
        ]
        rewrite_groups(
            spark, table, groups, lambda df: df.join(dels, id_col, "left_anti")
        )
    spark.sql(f"DROP TABLE IF EXISTS {dels_t}")
    return n_dels
