"""MERGE-upsert sink contract (reference S19: ON CONFLICT DO UPDATE),
including the partition-scoped path (only touched partitions rewritten)
and crash-window recovery (stage → aside → swap)."""

from __future__ import annotations

import os

import pytest

from database_convertor_spark.sources.writers import (
    dedup_latest,
    merge_upsert,
    scd2_upsert,
)


def _file_identity(root):
    """Map of every data file under ``root`` -> (inode, mtime_ns, size).
    Physical identity: a partition whose files keep the same inode and
    mtime was never rewritten."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_ino, st.st_mtime_ns,
                                             st.st_size)
    return out


def test_open_bucketed_table_lists_one_task_per_core(spark, tmp_path):
    """Opening a table of more partition directories than Spark's
    parallel-discovery threshold (32) lists them in a Spark job; the
    session caps that job at one task per core, not one per
    directory."""
    target = os.path.join(tmp_path, "bucketed")
    rows = spark.range(2000).selectExpr("cast(id AS string) AS k", "id AS v")
    merge_upsert(spark, target, rows, keys=["k"], hash_buckets=64)
    assert sum(e.startswith("_merge_bucket=")
               for e in os.listdir(target)) > 32
    sc = spark.sparkContext
    group = "test-open-bucketed-table"
    sc.setJobGroup(group, "open a 64-bucket table")
    try:
        spark.read.parquet(target)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    tasks = [tracker.getStageInfo(s).numTasks
             for j in tracker.getJobIdsForGroup(group)
             for s in tracker.getJobInfo(j).stageIds]
    assert tasks, "opening the table ran no listing job"
    assert max(tasks) <= sc.defaultParallelism, tasks


def test_merge_upsert_insert_then_update(spark, tmp_path):
    target = os.path.join(tmp_path, "companies")
    base = spark.createDataFrame(
        [("001", "Acme", 1), ("002", "Beta", 1)],
        ["company_number", "company_name", "version"])
    merge_upsert(spark, target, base, keys=["company_number"])

    updates = spark.createDataFrame(
        [("002", "Beta Renamed", 2), ("003", "Gamma", 1)],
        ["company_number", "company_name", "version"])
    result = merge_upsert(spark, target, updates, keys=["company_number"])

    rows = {r.company_number: (r.company_name, r.version)
            for r in result.collect()}
    assert rows == {"001": ("Acme", 1), "002": ("Beta Renamed", 2),
                    "003": ("Gamma", 1)}


def test_merge_upsert_idempotent(spark, tmp_path):
    target = os.path.join(tmp_path, "t")
    batch = spark.createDataFrame([("a", 1)], ["k", "v"])
    merge_upsert(spark, target, batch, keys=["k"])
    result = merge_upsert(spark, target, batch, keys=["k"])  # replay
    assert result.count() == 1


def test_merge_upsert_partition_scoped_leaves_untouched_files_alone(
        spark, tmp_path):
    """The 100 TB contract: a merge touching one partition rewrites ONLY
    that partition's directory — every other partition's files keep
    their inode/mtime/size (physically untouched, not re-written-equal)."""
    target = os.path.join(tmp_path, "enrichment_data")
    base = spark.createDataFrame(
        [(1, "clearbit", "a"), (2, "clearbit", "b"),
         (3, "apollo", "c"), (4, "hunter", "d")],
        ["company_id", "provider", "payload"])
    merge_upsert(spark, target, base, keys=["company_id", "provider"],
                 partition_by="provider")
    assert os.path.isdir(os.path.join(target, "provider=clearbit"))
    before = _file_identity(target)

    updates = spark.createDataFrame(
        [(2, "clearbit", "B2"), (9, "clearbit", "new")],
        ["company_id", "provider", "payload"])
    result = merge_upsert(spark, target, updates,
                          keys=["company_id", "provider"],
                          partition_by="provider")

    rows = {(r.company_id, r.provider): r.payload for r in result.collect()}
    assert rows == {(1, "clearbit"): "a", (2, "clearbit"): "B2",
                    (3, "apollo"): "c", (4, "hunter"): "d",
                    (9, "clearbit"): "new"}
    after = _file_identity(target)
    untouched_before = {k: v for k, v in before.items()
                        if k.startswith(("provider=apollo", "provider=hunter"))}
    untouched_after = {k: v for k, v in after.items()
                       if k.startswith(("provider=apollo", "provider=hunter"))}
    assert untouched_before and untouched_before == untouched_after
    # the touched partition WAS rewritten
    clearbit_before = {k for k in before if k.startswith("provider=clearbit")}
    clearbit_after = {k: v for k, v in after.items()
                      if k.startswith("provider=clearbit")}
    assert {k: before[k] for k in clearbit_before} != clearbit_after


def test_merge_upsert_hash_buckets_scoped_and_idempotent(spark, tmp_path):
    """Derived-bucket scoping for tables with no natural partition
    column (companies keyed only by company_number): correctness,
    replay idempotence, and physical untouched-bucket identity."""
    target = os.path.join(tmp_path, "companies")
    base = spark.createDataFrame(
        [(f"{i:03d}", f"co-{i}", 1) for i in range(40)],
        ["company_number", "company_name", "version"])
    merge_upsert(spark, target, base, keys=["company_number"],
                 hash_buckets=16)
    bucket_dirs = [d for d in os.listdir(target)
                   if d.startswith("_merge_bucket=")]
    assert len(bucket_dirs) > 1
    before = _file_identity(target)

    updates = spark.createDataFrame(
        [("005", "co-5 renamed", 2), ("999", "brand new", 1)],
        ["company_number", "company_name", "version"])
    result = merge_upsert(spark, target, updates, keys=["company_number"],
                          hash_buckets=16)
    rows = {r.company_number: (r.company_name, r.version)
            for r in result.collect()}
    assert rows["005"] == ("co-5 renamed", 2)
    assert rows["999"] == ("brand new", 1)
    assert rows["007"] == ("co-7", 1)
    assert len(rows) == 41

    # ≤2 buckets touched; everything else physically identical
    after = _file_identity(target)
    diff_keys = ((set(before) ^ set(after))
                 | {k for k in before
                    if k in after and before[k] != after[k]})
    changed_buckets = {k.split("/")[0] for k in diff_keys
                       if k.startswith("_merge_bucket=")}
    assert len(changed_buckets) <= 2
    same = {k: v for k, v in before.items()
            if k.split("/")[0] not in changed_buckets}
    for k, v in same.items():
        assert after.get(k) == v, k

    # replay the same batch: result unchanged AND untouched buckets stay
    replay = merge_upsert(spark, target, updates, keys=["company_number"],
                          hash_buckets=16)
    rows2 = {r.company_number: (r.company_name, r.version)
             for r in replay.collect()}
    assert rows2 == rows


def test_merge_upsert_adopts_persisted_spec(spark, tmp_path):
    """A plain merge_upsert on a table built with a partition contract
    keeps routing keys to their buckets (it must not flatten the
    layout or drop the bucket column)."""
    target = os.path.join(tmp_path, "t")
    base = spark.createDataFrame(
        [(f"k{i}", i) for i in range(20)], ["k", "v"])
    merge_upsert(spark, target, base, keys=["k"], hash_buckets=8)
    # no spec passed here — adopted from the sidecar
    out = merge_upsert(spark, target,
                       spark.createDataFrame([("k3", 99)], ["k", "v"]),
                       keys=["k"])
    rows = {r.k: r.v for r in out.collect()}
    assert rows["k3"] == 99 and len(rows) == 20
    assert any(d.startswith("_merge_bucket=") for d in os.listdir(target))


def test_merge_upsert_migrates_unpartitioned_layout(spark, tmp_path):
    """A table that predates its partition contract is migrated by one
    full rewrite; merges after that are partition-scoped."""
    target = os.path.join(tmp_path, "t")
    base = spark.createDataFrame([(f"k{i}", i) for i in range(20)],
                                 ["k", "v"])
    merge_upsert(spark, target, base, keys=["k"])          # unpartitioned
    assert not any(d.startswith("_merge_bucket=")
                   for d in os.listdir(target))
    out = merge_upsert(spark, target,
                       spark.createDataFrame([("k3", 99)], ["k", "v"]),
                       keys=["k"], hash_buckets=8)          # migration
    assert any(d.startswith("_merge_bucket=") for d in os.listdir(target))
    rows = {r.k: r.v for r in out.collect()}
    assert rows["k3"] == 99 and len(rows) == 20
    # now scoped: untouched buckets stay physically identical
    before = _file_identity(target)
    merge_upsert(spark, target,
                 spark.createDataFrame([("k3", 100)], ["k", "v"]),
                 keys=["k"], hash_buckets=8)
    after = _file_identity(target)
    unchanged = sum(1 for k, v in before.items()
                    if after.get(k) == v and k.startswith("_merge_bucket="))
    assert unchanged > 0


def _scd2_current(spark, target_path, updates, keys, **kw):
    """``scd2_upsert`` in merge_upsert's call shape: each row's version
    timestamp is its ``v`` (in seconds), and the returned frame is the
    current rows without the history columns — on these tests' batches
    that is exactly what merge_upsert returns."""
    from pyspark.sql import functions as F

    out = scd2_upsert(spark, target_path,
                      updates.withColumn("effective_at",
                                         F.col("v").cast("timestamp")),
                      keys, **kw)
    return out.filter("is_current").drop(
        "effective_at", "valid_from", "valid_to", "is_current")


# the partition contract and the crash recovery live in the rewrite
# both table writers share; each test below runs on both
WRITERS = pytest.mark.parametrize(
    "write", [merge_upsert, _scd2_current],
    ids=["merge_upsert", "scd2_upsert"])


@WRITERS
def test_merge_upsert_partition_contract_guards(spark, tmp_path, write):
    df = spark.createDataFrame([("a", "x", 1)], ["k", "p", "v"])
    # partition column must be part of the key
    with pytest.raises(ValueError, match="must be one of the merge keys"):
        write(spark, os.path.join(tmp_path, "t1"), df,
              keys=["k"], partition_by="p")
    # both shapes at once is ambiguous
    with pytest.raises(ValueError, match="not both"):
        write(spark, os.path.join(tmp_path, "t2"), df,
              keys=["k", "p"], partition_by="p", hash_buckets=4)
    # changing the bucket count on an existing table is rejected
    target = os.path.join(tmp_path, "t3")
    write(spark, target, df, keys=["k"], hash_buckets=4)
    with pytest.raises(ValueError, match="merge spec mismatch"):
        write(spark, target, df, keys=["k"], hash_buckets=8)


@pytest.mark.parametrize(
    "write,crash_at",
    [(merge_upsert, 1), (merge_upsert, 2),
     (_scd2_current, 1), (_scd2_current, 2)],
    ids=["1", "2", "scd2_upsert-1", "scd2_upsert-2"])
def test_merge_upsert_crash_mid_swap_recovers(spark, tmp_path, monkeypatch,
                                              write, crash_at):
    """Kill-point injection: crash before/between the two renames of a
    partition swap. Invariant: the partition's data exists on disk at
    every point (under the primary or the dot-aside name — the aside is
    invisible to Spark, so no phantom partitions), and replaying the
    batch converges to the correct merged state with no aside left."""
    import database_convertor_spark.sources.writers as W

    target = os.path.join(tmp_path, "t")
    base = spark.createDataFrame(
        [("a", "p1", 1), ("b", "p1", 2), ("c", "p2", 3)],
        ["k", "p", "v"])
    write(spark, target, base, keys=["k", "p"], partition_by="p")
    updates = spark.createDataFrame([("a", "p1", 10)], ["k", "p", "v"])

    calls = {"n": 0}
    real_rename = os.rename

    def flaky_rename(src, dst):
        # only meter renames of the table's partition dirs (Spark's own
        # temp-file renames during the staging write don't count)
        if "/t/" in dst or dst.rstrip("/").endswith("/t"):
            calls["n"] += 1
            # crash_at=1: before the rename-aside (old state intact);
            # crash_at=2: between rename-aside and rename-in (the
            # window the pre-round-10 rmtree+rename code lost data in)
            if calls["n"] == crash_at:
                raise OSError("injected crash")
        return real_rename(src, dst)

    monkeypatch.setattr(W.os, "rename", flaky_rename)
    with pytest.raises(OSError, match="injected crash"):
        write(spark, target, updates, keys=["k", "p"], partition_by="p")
    monkeypatch.setattr(W.os, "rename", real_rename)

    # the table is never in a "neither" state: either the old partition
    # dir or its aside exists
    p1 = os.path.join(target, "p=p1")
    aside = os.path.join(target, ".p=p1__aside")
    assert os.path.isdir(p1) or os.path.isdir(aside)

    # replaying the batch self-heals (reconcile + idempotent merge)
    spark.catalog.refreshByPath(target)
    result = write(spark, target, updates, keys=["k", "p"],
                   partition_by="p")
    rows = {(r.k, r.p): r.v for r in result.collect()}
    assert rows == {("a", "p1"): 10, ("b", "p1"): 2, ("c", "p2"): 3}
    assert not any(e.endswith("__aside") for e in os.listdir(target))
    assert not any(e.endswith("__aside") for e in os.listdir(tmp_path))
    assert os.listdir(tmp_path) == ["t"]       # no staging dir remains


@WRITERS
def test_merge_upsert_crash_during_full_table_swap_recovers(
        spark, tmp_path, monkeypatch, write):
    """Same kill-point discipline for the whole-table swap (the
    unpartitioned path): a crash between rename-aside and rename-in
    leaves the old table recoverable; the next call rolls it back and
    completes."""
    import database_convertor_spark.sources.writers as W

    target = os.path.join(tmp_path, "t")
    write(spark, target,
          spark.createDataFrame([("a", 1)], ["k", "v"]), keys=["k"])

    real_rename = os.rename

    def crash_after_aside(src, dst):
        if dst.endswith("__aside"):
            real_rename(src, dst)
            raise OSError("injected crash")
        return real_rename(src, dst)

    monkeypatch.setattr(W.os, "rename", crash_after_aside)
    with pytest.raises(OSError, match="injected crash"):
        write(spark, target,
              spark.createDataFrame([("a", 2)], ["k", "v"]), keys=["k"])
    monkeypatch.setattr(W.os, "rename", real_rename)

    # target path is gone but the aside holds the old table
    assert os.path.isdir(os.path.join(tmp_path, ".t__aside"))
    spark.catalog.refreshByPath(target)
    result = write(spark, target,
                   spark.createDataFrame([("a", 2)], ["k", "v"]),
                   keys=["k"])
    assert {(r.k, r.v) for r in result.collect()} == {("a", 2)}
    assert not any(e.endswith("__aside") for e in os.listdir(tmp_path))
    assert os.listdir(tmp_path) == ["t"]       # no staging dir remains


def test_merge_upsert_null_partition_value(spark, tmp_path):
    """A null in a natural partition key routes to the Hive default
    partition and merges correctly (isin() alone would drop it)."""
    target = os.path.join(tmp_path, "t")
    base = spark.createDataFrame(
        [("a", "p1", 1), ("b", None, 2)], ["k", "p", "v"])
    merge_upsert(spark, target, base, keys=["k", "p"], partition_by="p")
    out = merge_upsert(spark, target,
                       spark.createDataFrame([("b", None, 20)],
                                             "k string, p string, v long"),
                       keys=["k", "p"], partition_by="p")
    # full row multiset: the null-keyed row is REPLACED, not
    # accumulated (the anti-join must be null-safe — a plain `=` key
    # join would keep ('b', None, 2) forever alongside every update)
    rows = sorted((r.k, r.p, r.v) for r in out.collect())
    assert rows == [("a", "p1", 1), ("b", None, 20)]


@WRITERS
@pytest.mark.parametrize("first,second",
                         [("a", "a/.."), ("a:b", "a%3Ab")],
                         ids=["dot-dot", "escaped"])
def test_scoped_write_keeps_partitions_spark_escapes(spark, tmp_path, write,
                                                     first, second):
    """Natural partition values come from outside the program, and
    Spark escapes some characters in a partition dir name ('/' → %2F,
    ':' → %3A, '%' → %25). A scoped write swaps only the dir names
    Spark staged, so a value that reads like a path ('a/..') or like
    another value's escaped name ('a%3Ab') never reaches past its own
    partition: the table, its parent and every other partition
    survive."""
    target = os.path.join(tmp_path, "planning")
    kw = {"keys": ["k", "borough"], "partition_by": "borough"}
    write(spark, target, spark.createDataFrame(
        [("x", first, 1), ("y", "z", 2)], ["k", "borough", "v"]), **kw)
    out = write(spark, target, spark.createDataFrame(
        [("x", second, 3)], ["k", "borough", "v"]), **kw)
    assert sorted((r.k, r.borough, r.v) for r in out.collect()) == sorted(
        [("x", first, 1), ("y", "z", 2), ("x", second, 3)])
    assert os.listdir(tmp_path) == ["planning"]


def test_engine_upsert_uses_partition_contract(spark, tmp_path):
    """Engine.upsert wires schemas.MERGE_PARTITION_SPECS through: the
    companies table lands hash-bucketed on disk and the facade's
    table() hides the internal routing column."""
    from database_convertor_spark.api import Engine

    eng = Engine(spark, str(tmp_path))
    rows = spark.createDataFrame(
        [("001", "Acme"), ("002", "Beta")],
        ["company_number", "company_name"])
    out = eng.upsert("companies", rows)
    assert "_merge_bucket" not in out.columns
    assert any(d.startswith("_merge_bucket=")
               for d in os.listdir(os.path.join(tmp_path, "companies")))
    assert "_merge_bucket" not in eng.table("companies").columns


def test_dedup_latest(spark):
    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("b", 1, 30)], ["k", "ts", "v"])
    out = {r.k: r.v for r in dedup_latest(df, ["k"], "ts").collect()}
    assert out == {"a": 20, "b": 30}


def test_write_training_shards_layout_and_roundtrip(spark, tmp_path):
    """Packed chunks land partitioned by (lang, shard) and round-trip
    losslessly; each partition directory exists for each assignment."""
    import os

    from database_convertor_spark.operators.curation import (
        assign_chunk_bins,
        chunk_documents,
    )
    from database_convertor_spark.sources.readers import read_table
    from database_convertor_spark.sources.writers import (
        write_training_shards,
    )

    from .conftest import SF_SMALL

    docs = read_table(spark, SF_SMALL, "documents")
    chunks = chunk_documents(docs, chunk_tokens=16, overlap=4)
    assigned = assign_chunk_bins(chunks, docs, budget=64, n_shards=2)
    out = os.path.join(tmp_path, "shards")
    write_training_shards(assigned, out)

    langs = {r.lang for r in assigned.select("lang").distinct().collect()}
    for lang in langs:
        assert os.path.isdir(os.path.join(out, f"lang={lang}"))

    back = spark.read.parquet(out)
    want = {tuple(sorted(r.asDict().items())) for r in assigned.collect()}
    got = {tuple(sorted(r.asDict().items())) for r in back.collect()}
    assert got == want

    # physical per-file order: each parquet file replays its bins in
    # (bin_id, doc_id, chunk_id) order — the training-loader contract
    import glob

    import pyarrow.parquet as pq

    for f in glob.glob(os.path.join(out, "lang=*", "shard=*", "*.parquet")):
        t = pq.read_table(f, columns=["bin_id", "doc_id", "chunk_id"])
        rows = list(zip(t["bin_id"].to_pylist(), t["doc_id"].to_pylist(),
                        t["chunk_id"].to_pylist()))
        assert rows == sorted(rows), f


# ----------------------------------------------------- stdlib xlsx codec
def test_xlsx_codec_roundtrip(tmp_path):
    """Pure-codec round-trip (no Spark): strings incl. XML-escapable
    chars and preserved whitespace, numbers, booleans, None holes,
    ragged rows."""
    from database_convertor_spark.sources.xlsx import read_xlsx, write_xlsx

    path = str(tmp_path / "t.xlsx")
    header = ["name", "n", "ok", "note"]
    rows = [
        ["a & b <c>", 1.5, True, " leading space"],
        ["plain", -2.0, False, None],
        [None, 0.0, None, 'quotes "here"'],
    ]
    write_xlsx(path, header, rows, sheet_name="My Sheet")
    h, got = read_xlsx(path, "My Sheet")
    assert h == header
    assert got == rows
    # index addressing resolves the same sheet
    assert read_xlsx(path, 0) == (h, got)
    import pytest

    with pytest.raises(ValueError, match="no sheet named"):
        read_xlsx(path, "Nope")


def test_excel_spark_roundtrip(spark, tmp_path):
    """S12/S17 un-gated in THIS image (no openpyxl): write_excel ->
    read_excel round-trips a Spark frame, complex columns riding as
    JSON like the CSV sink (C26)."""
    from pyspark.sql import functions as F

    from database_convertor_spark.sources.readers import read_excel
    from database_convertor_spark.sources.writers import write_excel

    df = spark.createDataFrame(
        [(1, "alice & co", 9.75, True, ["x", "y"]),
         (2, "bob <ltd>", -1.25, False, []),
         (3, None, 0.5, True, ["z"])],
        ["id", "name", "score", "flag", "tags"])
    path = str(tmp_path / "export.xlsx")
    write_excel(df, path, sheet_name="Export")
    back = read_excel(spark, path, "Export")
    got = sorted(map(tuple, back.collect()))
    assert got == [
        (1.0, "alice & co", 9.75, True, '["x","y"]'),
        (2.0, "bob <ltd>", -1.25, False, "[]"),
        (3.0, None, 0.5, True, '["z"]'),
    ]
    assert back.columns == df.columns


def test_xlsx_codec_property_roundtrip(tmp_path):
    """Hypothesis: any flat table of strings/floats/bools/None
    round-trips through the stdlib codec byte-for-value (NaN lands as
    an empty cell -> None, matching Excel semantics)."""
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from database_convertor_spark.sources.xlsx import read_xlsx, write_xlsx

    # excel strips control chars; generate printable text (the writer
    # documents the strip — exercised separately in the golden test)
    cell = st.one_of(
        st.none(),
        st.text(alphabet=st.characters(min_codepoint=32,
                                       max_codepoint=0x2FF),
                max_size=20),
        st.floats(allow_nan=True, allow_infinity=False, width=32),
        st.booleans(),
    )

    @settings(max_examples=25, deadline=None)
    @given(st.lists(st.lists(cell, min_size=3, max_size=3),
                    min_size=1, max_size=6))
    def check(rows):
        path = str(tmp_path / "prop.xlsx")
        write_xlsx(path, ["a", "b", "c"], rows)
        _, got = read_xlsx(path)

        def norm(v):
            if isinstance(v, float) and math.isnan(v):
                return None
            if isinstance(v, bool) or v is None:
                return v
            if isinstance(v, float):
                return float(v)
            return str(v)

        assert got == [[norm(v) for v in row] for row in rows]

    check()


def test_xlsx_codec_integer_inference(tmp_path):
    """Round-6 ADVICE closure: integral cells (stored without a
    decimal point) come back as int — matching openpyxl/pandas
    inference, so the same file yields the same Spark schema whichever
    environment ingests it. Stored decimals stay float."""
    from database_convertor_spark.sources.xlsx import read_xlsx, write_xlsx

    path = str(tmp_path / "ints.xlsx")
    write_xlsx(path, ["i", "f", "neg"], [[7, 7.5, -3], [0, 2.0, -4]])
    _, rows = read_xlsx(path)
    assert rows == [[7, 7.5, -3], [0, 2.0, -4]]
    assert [type(v) for v in rows[0]] == [int, float, int]
    # 2.0 was WRITTEN as a decimal ('2.0') — it stays float
    assert type(rows[1][1]) is float


def test_xlsx_styled_export_in_stdlib_codec(spark, tmp_path):
    """S17 styling works WITHOUT openpyxl (round-7 closure of the S17
    remainder): bold-white-on-#366092 centered header + autofit column
    widths are legal plain SpreadsheetML — the zip carries the style
    parts, the sheet references them, and values still round-trip
    (styling is presentation-only)."""
    import zipfile

    from database_convertor_spark.sources.readers import read_excel
    from database_convertor_spark.sources.writers import write_excel
    from database_convertor_spark.sources.xlsx import read_xlsx

    df = spark.createDataFrame(
        [(1, "a-short", "x" * 80), (2, "b", "y")],
        ["id", "name", "long_text"])
    path = str(tmp_path / "styled.xlsx")
    write_excel(df, path, sheet_name="Companies", styled=True)

    with zipfile.ZipFile(path) as z:
        names = z.namelist()
        assert "xl/styles.xml" in names
        styles = z.read("xl/styles.xml").decode()
        # the reference's header treatment (utils.py:88-92)
        assert "FF366092" in styles and "<b/>" in styles \
            and 'horizontal="center"' in styles
        sheet = z.read("xl/worksheets/sheet1.xml").decode()
        # header cells carry the style; width autofit caps at 50
        assert 'A1" s="1"' in sheet and "<cols>" in sheet
        assert 'width="50"' in sheet          # 80-char col capped
        assert 'width="4"' in sheet           # 'id' col: 2 + 2
    # values unaffected by styling
    h, rows = read_xlsx(path, "Companies")
    assert h == ["id", "name", "long_text"]
    assert rows == [[1, "a-short", "x" * 80], [2, "b", "y"]]
    back = read_excel(spark, path, "Companies")
    assert sorted(map(tuple, back.collect())) == \
        sorted(map(tuple, df.collect()))


def test_directory_renames_live_only_in_writers():
    """Every directory swap goes through ``writers._swap_dir`` (and its
    crash reconcile): an ``os.rename`` / ``os.rmdir`` call anywhere
    else in the package is a hand-rolled swap no reconcile knows about."""
    import ast

    import database_convertor_spark

    root = os.path.dirname(database_convertor_spark.__file__)
    allowed = os.path.join(root, "sources", "writers.py")
    offenders = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            if not f.endswith(".py") or path == allowed:
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            for node in ast.walk(tree):
                fn = node.func if isinstance(node, ast.Call) else None
                if isinstance(fn, ast.Attribute) \
                        and fn.attr in ("rename", "rmdir") \
                        and isinstance(fn.value, ast.Name) \
                        and fn.value.id == "os":
                    offenders.append(
                        f"{os.path.relpath(path, root)}:{node.lineno} "
                        f"os.{fn.attr}")
    assert offenders == [], offenders
