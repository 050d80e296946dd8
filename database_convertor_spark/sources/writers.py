"""Sinks — SURVEY §2.1 S17-S19.

The reference leans on PostgreSQL ``INSERT ... ON CONFLICT DO UPDATE``
for every write (database.py:260-279, 573-615, 1296-1376). Vanilla
parquet has no MERGE, so ``merge_upsert`` implements the standard
dedup-union-overwrite pattern: new rows win over existing rows on the
key, exactly one row per key survives.

Scale design (the part that matters at 100 TB): ``merge_upsert`` is
PARTITION-SCOPED. Each table declares either a natural partition
column (which must be part of the merge key, so a matched row always
lands in the partition that already holds it) or a derived
hash-bucket column computed from the full key
(``pmod(xxhash64(keys), n_buckets)`` — deterministic across sessions,
so every version of a key routes to the same bucket forever). A merge
then (1) computes the touched partition values from the update batch
(one distinct-collect, bounded by the batch), (2) reads ONLY those
partitions of the existing table (directory partition pruning — the
untouched 99% of the table is never read or written, though opening
the table still lists every partition directory once, in a job of
one task per core, see ``session.get_spark``), (3) anti-joins the
broadcast update keys inside that scope, and (4) swaps ONLY the
touched partition directories. Untouched partition files are left
physically untouched — same inode, same mtime. Data I/O per merge
rides ``touched_partitions / total_partitions × table_bytes``, not
table size; listing is not (every open walks all the directories).
Size ``hash_buckets`` so a typical batch touches a small fraction:
buckets ≈ table_bytes / target_partition_bytes, and a batch of K
random keys touches ≤ K buckets.

``merge_upsert`` and ``scd2_upsert`` differ only in their row logic;
both run through ``_partition_scoped_write``.

Crash safety: every directory swap in the package is ``_swap_dir`` —
stage → rename-aside → rename-in → delete-aside — here, in the two
index compactions (search.py, similarity_search.py) and in the text
index stream's quarantine (streaming/pipeline.py). At every
intermediate point the data exists on disk under either the final or
the ``__aside`` name; ``_reconcile_asides`` (run at the start of every
writer of such a directory: both table writers, both index
compactions and both index streams) rolls an interrupted swap
forward or back, so a crash never loses a table, an index or a
partition of either. Every staging dir is ``_stage_dir``'s
``.<target>__stage_*`` beside the target, and ``_reconcile_asides``
deletes one a crashed writer left. Readers do not reconcile: until
the next writer runs, the data sits under the aside name, out of
readers' sight.

Per-table partition contracts live in ``schemas.MERGE_PARTITION_SPECS``
next to the key contracts in ``schemas.MERGE_KEYS``. With a
transactional table format (Delta/Iceberg — jars not in this image)
the same contract maps 1:1 to ``MERGE INTO``; both contract dicts are
format-independent.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_ASIDE_SUFFIX = "__aside"
_STAGE_INFIX = "__stage_"
_SPEC_FILE = "_merge_spec.json"  # leading '_' → invisible to Spark reads


def write_table(df: DataFrame, path: str, mode: str = "overwrite",
                partition_by: list[str] | None = None) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """CSV export sink (reference S18, app.py:1584-1597). ``single_file``
    coalesces to one partition — only for small download-style outputs.
    Complex columns (arrays/maps/structs) are JSON-serialized — the CSV
    analog of the reference's flatten_dict list handling (C26)."""
    from pyspark.sql import types as T
    cols = []
    for f in df.schema.fields:
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
            cols.append(F.to_json(F.col(f.name)).alias(f.name))
        else:
            cols.append(F.col(f.name))
    out = df.select(*cols)
    if single_file:
        out = out.coalesce(1)
    out.write.mode("overwrite").option("header", "true").csv(path)


def write_excel(df: DataFrame, path: str, sheet_name: str = "Export",
                max_rows: int = 1_000_000, styled: bool = False) -> None:
    """Excel export sink (reference S17: openpyxl styled workbook,
    utils.py:60-163). Excel is a driver-side, small-output format by
    nature: hard-capped, collected via Arrow, written with pandas when
    openpyxl exists; when it is absent (this image) the stdlib
    SpreadsheetML codec writes the sheet — INCLUDING the reference's
    styled treatment when ``styled`` is set (bold white header on
    #366092, centered, autofit column widths: plain styles.xml +
    <cols> markup, no openpyxl needed).
    Complex columns are JSON-serialized, as in write_csv (C26)."""
    from pyspark.sql import types as T

    cols = []
    for f in df.schema.fields:
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
            cols.append(F.to_json(F.col(f.name)).alias(f.name))
        else:
            cols.append(F.col(f.name))
    pdf = df.select(*cols).limit(max_rows).toPandas()
    try:
        import openpyxl  # noqa: F401

        pdf.to_excel(path, sheet_name=sheet_name, index=False)
    except ImportError:
        import pandas as pd

        from .xlsx import write_xlsx

        def _cell(v):
            try:
                if v is None or pd.isna(v):
                    return None
            except (TypeError, ValueError):
                pass
            if isinstance(v, pd.Timestamp):
                return v.isoformat()
            if hasattr(v, "item") and not isinstance(v, (str, bytes)):
                v = v.item()          # numpy scalar -> Python scalar
            return v

        rows = [[_cell(v) for v in row]
                for row in pdf.itertuples(index=False, name=None)]
        write_xlsx(path, [str(c) for c in pdf.columns], rows,
                   sheet_name=sheet_name, styled=styled)


def dedup_latest(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """Keep the newest row per key (deterministic upsert semantics)."""
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
    return (df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))


def _aside_path(dst: str) -> str:
    """The aside name for a directory being swapped: dot-prefixed so
    Spark's file index never lists it (partition-dir names containing
    '=' are ONLY hidden when dot-prefixed — a bare ``provider=x__aside``
    would be read back as a phantom partition value)."""
    d, b = os.path.split(dst)
    return os.path.join(d, "." + b + _ASIDE_SUFFIX)


def _stage_dir(target_path: str) -> str:
    """A fresh, empty staging dir ``.<basename>__stage_<random>`` beside
    ``target_path``: dot-prefixed so Spark never lists it, named after
    the target so ``_reconcile_asides(target_path)`` deletes one that a
    crash left behind."""
    d, b = os.path.split(target_path)
    os.makedirs(d or ".", exist_ok=True)
    return tempfile.mkdtemp(prefix="." + b + _STAGE_INFIX, dir=d or ".")


def _swap_dir(src: str, dst: str) -> None:
    """Atomic-as-possible directory replacement: rename the old ``dst``
    aside, rename ``src`` into place, delete the aside LAST. At every
    intermediate point the data exists on disk under either ``dst`` or
    its aside name — a crash anywhere is recoverable by
    ``_reconcile_asides`` (roll forward if the new dir landed, roll
    back if it did not). Never leaves ``dst`` missing with no aside."""
    aside = _aside_path(dst)
    if os.path.exists(aside):  # stale aside from a crashed *previous* swap
        _reconcile_one_aside(aside, dst)
    if os.path.exists(dst):
        os.rename(dst, aside)
    os.rename(src, dst)
    if os.path.exists(aside):
        shutil.rmtree(aside)


def _swap_partitions(staging: str, target_path: str, part_col: str) -> None:
    """Swap each partition directory a staging write produced into
    ``target_path`` (``_swap_dir`` each), then delete the staging dir.
    Dir names come from Spark's listing of the staging dir, so both
    sides carry Spark's own escaping; partitions that staged nothing
    are never opened."""
    for entry in os.listdir(staging):
        if entry.startswith(part_col + "="):
            _swap_dir(os.path.join(staging, entry),
                      os.path.join(target_path, entry))
    shutil.rmtree(staging)


def _reconcile_one_aside(aside: str, primary: str) -> None:
    if os.path.exists(primary):
        # swap completed (new data renamed in) but cleanup died → finish it
        shutil.rmtree(aside)
    else:
        # crash between rename-aside and rename-in → roll back to old data
        os.rename(aside, primary)


def _reconcile_asides(target_path: str) -> None:
    """Recover from a crash mid-swap: for the table directory itself and
    for every partition directory inside it, an aside leftover is
    rolled forward (primary present → delete aside) or rolled back
    (primary missing → rename aside to primary). Run at the start of
    every writer of a swapped directory (both table writers, both
    index compactions, both index streams), so the next write after
    a crash self-heals.
    A partition-scoped merge interrupted BETWEEN partition swaps leaves
    some partitions new and some old — never missing — and replaying
    the same batch (merge_upsert is idempotent) converges the rest.
    The target's own ``_stage_dir`` leftovers are deleted too: the swap
    protocol assumes one writer per target at a time, so a staging dir
    found at a writer's start belongs to a crashed writer."""
    def _primary_for(aside: str) -> str:
        d, b = os.path.split(aside)
        return os.path.join(d, b[1:-len(_ASIDE_SUFFIX)])

    parent, base = os.path.split(target_path)
    parent = parent or "."
    if os.path.isdir(parent):
        for entry in os.listdir(parent):
            if entry.startswith("." + base + _STAGE_INFIX):
                shutil.rmtree(os.path.join(parent, entry))
    top_aside = _aside_path(target_path)
    if os.path.exists(top_aside):
        _reconcile_one_aside(top_aside, target_path)
    if not os.path.isdir(target_path):
        return
    for entry in os.listdir(target_path):
        if entry.startswith(".") and entry.endswith(_ASIDE_SUFFIX):
            aside = os.path.join(target_path, entry)
            _reconcile_one_aside(aside, _primary_for(aside))


def _bucket_expr(keys: list[str], n_buckets: int):
    """Deterministic bucket id from the full merge key: stable across
    sessions and batches, so every version of a key routes to the same
    partition directory forever (the property partition-scoped MERGE
    rests on). Keys are cast to string first so e.g. int vs bigint
    representations of the same key value cannot diverge."""
    return F.pmod(
        F.xxhash64(*[F.col(k).cast("string") for k in keys]),
        F.lit(n_buckets)).cast("int")


def _read_merge_spec(target_path: str) -> dict | None:
    p = os.path.join(target_path, _SPEC_FILE)
    if os.path.exists(p):
        with open(p) as fh:
            return json.load(fh)
    return None


def _write_merge_spec(target_path: str, spec: dict) -> None:
    with open(os.path.join(target_path, _SPEC_FILE), "w") as fh:
        json.dump(spec, fh)


BUCKET_COL = "_merge_bucket"


def _key_cond(left: DataFrame, right: DataFrame, cols: list[str]):
    """NULL-SAFE key-equality join condition. A plain `join(keys, ...)`
    compares with `=`, where NULL = NULL is NULL — a null-keyed row
    would never match its replacement and duplicate keys would
    accumulate (while dropDuplicates / Window.partitionBy treat nulls
    as EQUAL within a batch; the semantics must agree across batches).
    `<=>` keeps the join a hash equi-join."""
    cond = None
    for k in cols:
        c = left[k].eqNullSafe(right[k])
        cond = c if cond is None else cond & c
    return cond


def _anti_join_keys(existing: DataFrame, upd_keys: DataFrame,
                    keys: list[str]) -> DataFrame:
    """Existing rows whose key matches NO update row (null-safe)."""
    return existing.join(upd_keys, _key_cond(existing, upd_keys, keys),
                         "left_anti")


def _partition_scoped_write(spark: SparkSession, target_path: str,
                            updates: DataFrame, keys: list[str],
                            partition_by: str | None,
                            hash_buckets: int | None,
                            merge) -> DataFrame:
    """The stage-and-swap rewrite both table writers share (see the
    module docstring for the design): contract checks, crash
    reconcile, the ``_merge_spec.json`` sidecar (adopted by spec-less
    calls, validated otherwise), the hash-bucket column, the one
    touched-partition collect and its pruned read, the one-time
    migration of a pre-spec table, the staging write and the swap —
    per touched partition, or the whole table with the spec written
    in. ``merge(existing, updates)`` is the writer's row logic:
    ``existing`` is None on the first write, otherwise the pruned (or
    migrated) existing rows; ``updates`` carries the partition
    column. Returns the refreshed table."""
    if partition_by is not None and hash_buckets is not None:
        raise ValueError("pass partition_by OR hash_buckets, not both")
    if partition_by is not None and partition_by not in keys:
        raise ValueError(
            f"partition_by={partition_by!r} must be one of the merge keys "
            f"{keys}: every version of a key must route to the partition "
            "that already holds it, otherwise the old version survives in "
            "the old partition")
    _reconcile_asides(target_path)
    exists = os.path.exists(target_path)
    spec = _read_merge_spec(target_path) if exists else None
    if spec is not None and partition_by is None and hash_buckets is None:
        # caller passed no contract but the table has one persisted —
        # adopt it (a plain upsert on a bucketed table must keep
        # routing keys to their buckets, not flatten the layout)
        partition_by = spec["partition_by"]
        hash_buckets = spec["hash_buckets"]
    part_col = partition_by if partition_by is not None else (
        BUCKET_COL if hash_buckets else None)
    want_spec = {"partition_by": partition_by, "hash_buckets": hash_buckets,
                 "keys": sorted(keys)}
    if spec is not None and part_col is not None and spec != want_spec:
        raise ValueError(
            f"merge spec mismatch for {target_path}: table was built with "
            f"{spec}, called with {want_spec} — changing the partition "
            "contract on an existing table would route keys to fresh "
            "partitions; rebuild the table or keep the original spec")
    if hash_buckets:
        updates = updates.withColumn(
            part_col, _bucket_expr(keys, hash_buckets))

    # partition-scoped only when the on-disk layout already carries the
    # partition column as a directory level (spec sidecar says so);
    # otherwise this call rewrites the whole table (unpartitioned, or
    # the one-time migration of a pre-spec table)
    scoped = part_col is not None and spec == want_spec
    existing = None
    if exists:
        existing = spark.read.parquet(target_path)
        if scoped:
            touched = [r[0] for r in
                       updates.select(part_col).distinct().collect()]
            non_null = [v for v in touched if v is not None]
            cond = F.col(part_col).isin(non_null)
            if len(non_null) < len(touched):        # null partition value
                cond = cond | F.col(part_col).isNull()
            # directory partition pruning: the open above listed every
            # partition directory (one cores-sized job); only the
            # touched partitions' files are read
            existing = existing.filter(cond)
        elif hash_buckets and part_col not in existing.columns:
            existing = existing.withColumn(
                part_col, _bucket_expr(keys, hash_buckets))
        elif partition_by is not None \
                and partition_by not in existing.columns:
            raise ValueError(
                f"partition_by={partition_by!r} not a column of the "
                f"existing table at {target_path}")

    writer = merge(existing, updates).write.mode("overwrite")
    staging = _stage_dir(target_path)
    if part_col:
        writer = writer.partitionBy(part_col)
    writer.parquet(staging)
    if scoped:
        # every touched partition stages at least its update rows
        _swap_partitions(staging, target_path, part_col)
    else:
        if part_col:
            _write_merge_spec(staging, want_spec)
        _swap_dir(staging, target_path)
    # drop the session's cached file listing for the rewritten path
    spark.catalog.refreshByPath(target_path)
    return spark.read.parquet(target_path)


def merge_upsert(spark: SparkSession, target_path: str, updates: DataFrame,
                 keys: list[str], partition_by: str | None = None,
                 hash_buckets: int | None = None) -> DataFrame:
    """MERGE-equivalent on parquet: rows in ``updates`` replace rows in
    the target with the same key; unmatched update rows are inserted.

    Implements the reference's ON CONFLICT DO UPDATE contract (S19);
    key sets per table live in ``schemas.MERGE_KEYS``, partition
    contracts in ``schemas.MERGE_PARTITION_SPECS``.

    Partition scoping (see module docstring for the full design):

    - ``partition_by`` — a natural partition column; MUST be one of
      ``keys`` (a matched row must land in the partition that already
      holds it, or the old version would survive in its old partition).
    - ``hash_buckets`` — derive a ``_merge_bucket`` partition column
      from the full key instead (for tables with no natural clustering
      column, e.g. ``companies`` keyed only by company_number).

    With either, only the partition directories the update batch
    touches are read, anti-joined, rewritten, and swapped; every other
    partition's files are left byte-identical on disk. Each open of the
    table still lists every partition directory (a job of one task per
    core) — once for the existing rows, once for the returned frame;
    only the read of the existing rows is pruned to the touched
    partitions. Without either, the whole table is staged and swapped
    (correct, but O(table) I/O — fine for the small config tables,
    wrong for the warehouse facts).

    The chosen spec is persisted in a ``_merge_spec.json`` sidecar and
    validated on every later merge — changing ``hash_buckets`` on an
    existing table would silently route keys to fresh partitions, so a
    mismatch raises instead. A table that predates its spec (written
    unpartitioned) is migrated with one full rewrite, after which every
    merge is partition-scoped.
    """
    def merge(existing, updates):
        if existing is None:
            return updates
        kept = _anti_join_keys(
            existing, F.broadcast(updates.select(*keys)), keys)
        return kept.unionByName(updates.select(*existing.columns))

    return _partition_scoped_write(
        spark, target_path, updates.dropDuplicates(keys), keys,
        partition_by, hash_buckets, merge)


def scd2_upsert(spark: SparkSession, target_path: str, updates: DataFrame,
                keys: list[str], ts_col: str = "effective_at",
                partition_by: str | None = None,
                hash_buckets: int | None = None) -> DataFrame:
    """Slowly-changing-dimension type 2 on parquet (the CDC/SCD2
    pattern MERGE would express on Delta; emulated with
    close-open-union semantics):

    - a key arriving with a new ``ts_col`` closes the currently-open
      row (valid_to = new ts, is_current = false),
    - the new version is appended open (valid_to = null,
      is_current = true),
    - unchanged keys keep their history untouched.

    The reference tracks only updated_at/onupdate (models.py:26);
    SCD2 is the warehouse-grade upgrade of that contract — full change
    history, point-in-time queries via valid_from/valid_to.

    Partition scoping: the same contract and the same rewrite as
    ``merge_upsert`` (``_partition_scoped_write``). A key's ENTIRE
    history lives in one partition — the partition value is a function
    of the key — so the close-open logic runs against only the touched
    partitions and only their directories are rewritten; history in
    every other partition is physically untouched."""
    def close_open_union(existing, updates):
        incoming = (updates
                    .withColumn("valid_from", F.col(ts_col))
                    .withColumn("valid_to", F.lit(None).cast("timestamp"))
                    .withColumn("is_current", F.lit(True)))
        if existing is None:
            return incoming
        # every key join below is null-safe (`<=>`, _key_cond) so a
        # null-keyed key's history closes exactly like any other —
        # the same contract merge_upsert keeps via _anti_join_keys
        upd_keys = F.broadcast(updates.select(*keys).dropDuplicates())
        cur = existing.filter(F.col("is_current"))
        touched_open = cur.join(
            upd_keys, _key_cond(cur, upd_keys, keys), "left_semi")
        open_keys = touched_open.select(*keys, "valid_from")
        untouched = existing.join(
            open_keys,
            _key_cond(existing, open_keys, keys + ["valid_from"]),
            "left_anti")
        new_ts = F.broadcast(updates.select(
            *keys, F.col(ts_col).alias("_new_ts")))
        closed = (touched_open
                  .join(new_ts, _key_cond(touched_open, new_ts, keys))
                  .select(touched_open["*"], new_ts["_new_ts"])
                  .withColumn("valid_to", F.col("_new_ts"))
                  .withColumn("is_current", F.lit(False))
                  .drop("_new_ts"))
        return (untouched
                .unionByName(closed)
                .unionByName(incoming.select(*untouched.columns)))

    return _partition_scoped_write(
        spark, target_path, dedup_latest(updates, keys, ts_col), keys,
        partition_by, hash_buckets, close_open_union)


def write_training_shards(chunks_with_bins: DataFrame, path: str) -> None:
    """Land packed training chunks (the ``assign_chunk_bins`` output)
    as the on-disk layout a training loader consumes: one directory
    per (lang, shard) partition, rows inside each file sorted by
    (bin_id, doc_id, chunk_id) so a sequential read replays bins in
    packing order. ``partitionBy`` prunes language/shard subsets at
    read time; ``sortWithinPartitions`` costs a per-partition sort,
    never a global one — the same contiguity contract the packing
    window established."""
    # the sort MUST lead with the partitionBy columns: that satisfies
    # the write path's required ordering, so Spark reuses THIS sort
    # instead of inserting its own Sort(lang, shard) on top — which
    # would both double the sort work and, once large enough to spill,
    # merge tie runs arbitrarily and destroy the per-file bin order
    (chunks_with_bins
     .repartition("lang", "shard")
     .sortWithinPartitions("lang", "shard", "bin_id", "doc_id", "chunk_id")
     .write.mode("overwrite")
     .partitionBy("lang", "shard")
     .parquet(path))
