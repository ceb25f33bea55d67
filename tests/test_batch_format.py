"""Batch half of the lakehouse connector: spark.read/write.format
("lakehouse") — append/overwrite commits, time-travel options, pushed-
filter file skipping, and the merge-on-read delete-tail overlay."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from biglake_iceberg_pipeline_spark.sinks.lakehouse import LakehouseTable
from biglake_iceberg_pipeline_spark.streaming.source import (
    LakehouseBatchReader,
    LakehouseStreamSource,
)


@pytest.fixture(autouse=True)
def _register(spark):
    spark.dataSource.register(LakehouseStreamSource)


def test_batch_write_append_and_overwrite(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(0, 10).write.format("lakehouse").option(
        "path", path
    ).mode("append").save()
    spark.range(10, 15).write.format("lakehouse").option(
        "path", path
    ).mode("append").save()
    tbl = LakehouseTable(path)
    assert tbl.read(spark).count() == 15
    assert [s["operation"] for s in tbl.snapshots] == [
        "append",
        "append",
    ]
    spark.range(0, 3).write.format("lakehouse").option(
        "path", path
    ).mode("overwrite").save()
    assert tbl.read(spark).count() == 3
    assert tbl.snapshots[-1]["operation"] == "overwrite"
    # time travel still sees the pre-overwrite state
    assert tbl.read(spark, snapshot_id=2).count() == 15


def test_batch_write_schema_evolution(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "id long, v string").write.format(
        "lakehouse"
    ).option("path", path).mode("append").save()
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, v string, s double"
    ).write.format("lakehouse").option("path", path).mode(
        "append"
    ).save()
    rows = {
        r["id"]: r["s"]
        for r in LakehouseTable(path).read(spark).collect()
    }
    assert rows == {1: None, 2: 9.5}


def test_batch_read_matches_native_and_time_travels(spark, tmp_path):
    path = str(tmp_path / "t")
    tbl = LakehouseTable(path)
    tbl.append(spark.range(0, 50).withColumn("v", F.col("id") * 2))
    tbl.tag("v1")
    tbl.append(spark.range(50, 80).withColumn("v", F.col("id") * 2))

    def fmt(**opts):
        r = spark.read.format("lakehouse").option("path", path)
        for k, v in opts.items():
            r = r.option(k, str(v))
        return r.load()

    assert fmt().count() == 80
    assert fmt(tag="v1").count() == 50
    assert fmt(snapshotId=1).count() == 50
    import time

    assert fmt(asOfTimestamp=time.time()).count() == 80
    native = sorted(
        tuple(r) for r in tbl.read(spark).where("id < 7").collect()
    )
    via_fmt = sorted(
        tuple(r) for r in fmt().where("id < 7").collect()
    )
    assert native == via_fmt
    with pytest.raises(Exception, match="one of"):
        fmt(tag="v1", snapshotId=1).count()


def test_pushed_filters_skip_files(spark, tmp_path):
    """Point lookup on a sort-compacted table plans ~1 file: pushed
    EqualTo becomes a manifest-stats range; results stay exact
    because Spark re-applies every filter row-wise."""
    from pyspark.sql.datasource import EqualTo, GreaterThan

    path = str(tmp_path / "t")
    tbl = LakehouseTable(path)
    tbl.append(spark.range(0, 1000).withColumn("v", F.col("id") * 2))
    tbl.compact(spark, target_files=8, sort_by=["id"])
    schema = tbl.read(spark).schema
    r = LakehouseBatchReader(path, schema, {})
    assert len(r.partitions()) == 8
    r.pushFilters([EqualTo(("id",), 500)])
    assert len(r.partitions()) == 1
    r2 = LakehouseBatchReader(path, schema, {})
    r2.pushFilters([GreaterThan(("id",), 990)])
    assert len(r2.partitions()) == 1
    # end-to-end: filtered rows identical to the native path
    got = sorted(
        r["id"]
        for r in spark.read.format("lakehouse")
        .option("path", path)
        .load()
        .where("id > 995")
        .collect()
    )
    assert got == [996, 997, 998, 999]


def _connector_read(spark, path: str, **options):
    r = spark.read.format("lakehouse").option("path", path)
    for k, v in options.items():
        r = r.option(k, v)
    return r.load()


def _same_rows(df_a, df_b):
    cols = sorted(df_a.columns)
    assert cols == sorted(df_b.columns)
    a = sorted(map(tuple, df_a.select(*cols).collect()))
    b = sorted(map(tuple, df_b.select(*cols).collect()))
    assert a == b


def test_batch_read_applies_position_delete_tail(spark, tmp_path):
    """Connector read of a position-delete tail equals the native
    overlay read; materializing afterwards changes nothing."""
    path = str(tmp_path / "t")
    tbl = LakehouseTable(path)
    tbl.append(spark.range(0, 20))
    tbl.delete_where_mor(spark, F.col("id") < 5)
    got = _connector_read(spark, path)
    assert sorted(r["id"] for r in got.collect()) == list(range(5, 20))
    _same_rows(got, tbl.read(spark))
    tbl.materialize_deletes(spark)
    assert _connector_read(spark, path).count() == 15


def test_batch_read_applies_equality_and_update_tail(spark, tmp_path):
    """MoR MERGE tail (equality deletes + postimage data files)
    through the connector: updated rows appear once with their new
    values, and a matching-key row appended AFTER the delete
    committed survives (added_at watermark scoping)."""
    path = str(tmp_path / "t")
    tbl = LakehouseTable(path)
    tbl.append(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "id long, v string"
        )
    )
    src = spark.createDataFrame(
        [(3, "NEW"), (2000, "ins")], "id long, v string"
    )
    tbl.merge(spark, src, keys=["id"], mode="merge-on-read")
    tbl.append(spark.createDataFrame([(3, "after")], "id long, v string"))
    got = _connector_read(spark, path)
    _same_rows(got, tbl.read(spark))
    rows = sorted(
        (r["id"], r["v"]) for r in got.where("id = 3 or id = 2000").collect()
    )
    assert rows == [(3, "NEW"), (3, "after"), (2000, "ins")]


def test_batch_read_mor_tail_composes_with_partition_and_rename(
    spark, tmp_path
):
    """Delete tail + identity partitioning + a metadata-only rename
    in one connector read: hive-path values restore, the renamed
    column coalesces its vintage name, and both delete kinds apply."""
    path = str(tmp_path / "t")
    tbl = LakehouseTable(path, partition_by=["grp"])
    tbl.append(
        spark.createDataFrame(
            [(i, f"n{i}", i % 3) for i in range(30)],
            "id long, name string, grp long",
        )
    )
    tbl.rename_column("name", "customer_name")
    tbl.delete_where_mor(spark, F.col("id") % 10 == 7)
    src = spark.createDataFrame(
        [(4, "UPD", 1)], "id long, customer_name string, grp long"
    )
    tbl.merge(spark, src, keys=["id"], mode="merge-on-read")
    got = _connector_read(spark, path)
    _same_rows(got, tbl.read(spark))
    by_id = {}
    for r in got.collect():
        by_id.setdefault(r["id"], []).append(r["customer_name"])
    assert 7 not in by_id and 17 not in by_id and 27 not in by_id
    assert by_id[4] == ["UPD"]
    # pushed filters compose: pruning only skips files, the overlay
    # still drops the voided rows inside kept files
    assert (
        _connector_read(spark, path).where("id >= 7 and id <= 8").count()
        == 1
    )


def test_batch_read_mor_tail_time_travel_pre_tail(spark, tmp_path):
    """Time travel to the pre-delete snapshot bypasses the tail (it
    belongs to later snapshots only)."""
    path = str(tmp_path / "t")
    tbl = LakehouseTable(path)
    tbl.append(spark.range(0, 20))
    pre = tbl.current_snapshot_id()
    tbl.delete_where_mor(spark, F.col("id") < 5)
    assert (
        _connector_read(spark, path, snapshotId=str(pre)).count() == 20
    )
    assert _connector_read(spark, path).count() == 15


def test_pushed_in_list_skips_files(spark, tmp_path):
    """A pushed IN-list prunes to the union of its values' point
    probes (manifest stats — and blooms where registered); an
    over-long or partly-unprobeable list skips pruning but stays
    correct via row-wise re-evaluation."""
    from pyspark.sql.datasource import In

    path = str(tmp_path / "t")
    tbl = LakehouseTable(path)
    tbl.append(spark.range(0, 1000).withColumn("v", F.col("id") * 2))
    tbl.compact(spark, target_files=8, sort_by=["id"])
    schema = tbl.read(spark).schema
    r = LakehouseBatchReader(path, schema, {})
    # two values in the same 125-row range bucket -> 1 file;
    # values at the two extremes -> 2 files
    r.pushFilters([In(("id",), (500, 501))])
    assert len(r.partitions()) == 1
    r2 = LakehouseBatchReader(path, schema, {})
    r2.pushFilters([In(("id",), (3, 997))])
    assert len(r2.partitions()) == 2
    # over-long list: no pruning, all 8 files planned
    r3 = LakehouseBatchReader(path, schema, {})
    r3.pushFilters([In(("id",), tuple(range(100)))])
    assert len(r3.partitions()) == 8
    # end-to-end equality with the native read
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    from biglake_iceberg_pipeline_spark.streaming.source import (
        LakehouseStreamSource,
    )

    spark.dataSource.register(LakehouseStreamSource)
    got = sorted(
        r["id"]
        for r in spark.read.format("lakehouse")
        .option("path", path)
        .load()
        .where(F.col("id").isin(3, 500, 997))
        .collect()
    )
    assert got == [3, 500, 997]


def test_pushed_in_list_uses_blooms(spark, tmp_path):
    """On a hash-distributed table where every file's footer range
    contains every key, the IN-list's per-value bloom probes are what
    prune: 2 values -> at most 2 of 6 files."""
    from pyspark.sql.datasource import In

    path = str(tmp_path / "t")
    tbl = LakehouseTable(path)
    tbl.append(
        spark.range(0, 600)
        .withColumn("k", F.col("id"))
        .repartition(6, "k")
    )
    tbl.refresh_bloom_filters(spark, ["k"])
    schema = tbl.read(spark).schema
    r = LakehouseBatchReader(path, schema, {})
    assert len(r.partitions()) == 6
    r.pushFilters([In(("k",), (17, 401))])
    assert 1 <= len(r.partitions()) <= 2


def test_pushed_startswith_keeps_supplementary_suffix_rows(
    spark, tmp_path
):
    """The prefix range's upper bound must be the prefix SUCCESSOR,
    not prefix+U+10FFFF: a string continuing PAST a max code point
    ('key00' + U+10FFFF + 'x') still startswith('key00') but sorts
    above prefix+U+10FFFF — with the old bound its file was pruned
    and the row silently vanished from results."""
    from pyspark.sql.datasource import StringStartsWith

    path = str(tmp_path / "t")
    tbl = LakehouseTable(path)
    weird = "key00" + chr(0x10FFFF) + "x"
    tbl.append(
        spark.createDataFrame([(1, weird)], "id long, k string")
    )
    tbl.append(
        spark.createDataFrame([(2, "zzz")], "id long, k string")
    )
    schema = tbl.read(spark).schema
    r = LakehouseBatchReader(path, schema, {})
    r.pushFilters([StringStartsWith(("k",), "key00")])
    kept = [p.file for p in r.partitions()]
    # the weird-row file must survive; the 'zzz' file may prune
    assert any("snap-" in f for f in kept)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    from biglake_iceberg_pipeline_spark.streaming.source import (
        LakehouseStreamSource,
    )

    spark.dataSource.register(LakehouseStreamSource)
    got = (
        spark.read.format("lakehouse")
        .option("path", path)
        .load()
        .where(F.col("k").startswith("key00"))
        .collect()
    )
    assert [r["id"] for r in got] == [1]


def test_pushed_startswith_skips_files(spark, tmp_path):
    """StringStartsWith pushes as the closed string range [prefix,
    prefix+U+10FFFF], so a prefix lookup on a string-sorted table
    prunes by footer min/max like any range."""
    from pyspark.sql.datasource import StringStartsWith

    path = str(tmp_path / "t")
    tbl = LakehouseTable(path)
    tbl.append(
        spark.range(0, 800).selectExpr(
            "id", "printf('key%04d', id) AS k"
        )
    )
    tbl.compact(spark, target_files=8, sort_by=["k"])
    schema = tbl.read(spark).schema
    r = LakehouseBatchReader(path, schema, {})
    r.pushFilters([StringStartsWith(("k",), "key00")])
    # key0000..key0099: one 100-key slice of 800 sorted into 8 files
    assert len(r.partitions()) <= 2
    # end-to-end equality with row-wise re-evaluation
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    from biglake_iceberg_pipeline_spark.streaming.source import (
        LakehouseStreamSource,
    )

    spark.dataSource.register(LakehouseStreamSource)
    got = (
        spark.read.format("lakehouse")
        .option("path", path)
        .load()
        .where(F.col("k").startswith("key00"))
        .count()
    )
    assert got == 100


def test_batch_read_columns_projection(spark, tmp_path):
    """The `columns` option projects at the SOURCE (the Python
    DataSource API has no column-pruning hook): only the named
    columns come back, values match a native select, partition-path
    values restore when projected IN, and unknown names fail
    loudly."""
    path = str(tmp_path / "t")
    tbl = LakehouseTable(path, partition_by=["grp"])
    tbl.append(
        spark.createDataFrame(
            [(i, f"n{i}", float(i) * 1.5, i % 3) for i in range(12)],
            "id long, name string, score double, grp long",
        )
    )
    got = _connector_read(spark, path, columns="id,grp")
    assert got.columns == ["id", "grp"]
    _same_rows(got, tbl.read(spark).select("id", "grp"))
    with pytest.raises(Exception, match="unknown columns"):
        _connector_read(spark, path, columns="id,ghost").collect()


def test_batch_read_columns_projection_through_mor_tail(spark, tmp_path):
    """Projection composes with the MoR overlay even when the
    equality-delete KEY column is projected away: the executor reads
    the key additionally, masks, then drops it — voided rows stay
    gone in the two-column result."""
    path = str(tmp_path / "t")
    tbl = LakehouseTable(path)
    tbl.append(
        spark.createDataFrame(
            [(i, f"n{i}", float(i)) for i in range(10)],
            "id long, name string, score double",
        )
    )
    tbl.delete_where_mor(spark, F.col("id") == 7)
    src = spark.createDataFrame(
        [(3, "NEW", 33.0)], "id long, name string, score double"
    )
    tbl.merge(spark, src, keys=["id"], mode="merge-on-read")
    got = _connector_read(spark, path, columns="name,score")
    assert got.columns == ["name", "score"]
    rows = sorted(map(tuple, got.collect()))
    assert ("n7", 7.0) not in rows  # position-deleted
    assert ("n3", 3.0) not in rows  # eq-voided (key id projected away)
    assert ("NEW", 33.0) in rows
    assert len(rows) == 9


def test_batch_read_branch(spark, tmp_path):
    """Connector branch reads (.option('branch', name)): the staged
    WAP state — base files + branch appends, with the base's
    outstanding MoR delete tail applied — equals the native branch
    read; main stays unaffected; projection composes; streams refuse
    the option."""
    path = str(tmp_path / "t")
    tbl = LakehouseTable(path)
    tbl.append(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "id long, v string"
        )
    )
    tbl.delete_where_mor(spark, F.col("id") == 2)  # base tail
    tbl.create_branch("wip")
    tbl.append_to_branch(
        "wip",
        spark.createDataFrame([(100, "staged")], "id long, v string"),
    )
    got = _connector_read(spark, path, branch="wip")
    _same_rows(got, tbl.read(spark, branch="wip"))
    ids = sorted(r["id"] for r in got.collect())
    assert 100 in ids and 2 not in ids
    # main read unaffected by the staged append
    assert 100 not in {
        r["id"] for r in _connector_read(spark, path).collect()
    }
    # projection composes with the branch read
    proj = _connector_read(spark, path, branch="wip", columns="id")
    assert proj.columns == ["id"]
    assert sorted(r["id"] for r in proj.collect()) == ids
    # mutually exclusive with time travel; unknown branch errors
    with pytest.raises(Exception, match="one of"):
        _connector_read(spark, path, branch="wip", snapshotId="1").collect()
    with pytest.raises(Exception, match="not found"):
        _connector_read(spark, path, branch="ghost").collect()
    # streams tail main history only (readStream.load() defers
    # streamReader construction to query start — invoke it directly)
    src = LakehouseStreamSource({"path": path, "branch": "wip"})
    with pytest.raises(ValueError, match="batch read option"):
        src.streamReader(src.schema())


def test_batch_read_branch_first_table(spark, tmp_path):
    """A table whose FIRST commits arrive via a branch has no main
    schema; the connector resolves the branch's own staged schema
    (r12 review — schema() used to refuse before the branch arm)."""
    path = str(tmp_path / "t")
    tbl = LakehouseTable(path)
    tbl.create_branch("wip")
    tbl.append_to_branch(
        "wip", spark.createDataFrame([(1, "a")], "id long, v string")
    )
    got = _connector_read(spark, path, branch="wip")
    assert sorted(map(tuple, got.collect())) == [(1, "a")]
    _same_rows(got, tbl.read(spark, branch="wip"))
    # branch + useSnapshotSchema refused loudly, not degraded
    with pytest.raises(Exception, match="useSnapshotSchema"):
        _connector_read(
            spark, path, branch="wip", useSnapshotSchema="true"
        ).collect()


def test_batch_write_branch_wap_loop(spark, tmp_path):
    """The full write-audit-publish loop through the public DataSource
    API (F49): connector-staged branch write → main unaffected →
    audit via the F47 branch read → fast_forward publishes atomically
    → main holds the staged rows."""
    path = str(tmp_path / "t")
    tbl = LakehouseTable(path)
    tbl.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    tbl.create_branch("wip")
    spark.createDataFrame(
        [(9, "staged"), (10, "staged2")], "id long, v string"
    ).write.format("lakehouse").option("path", path).option(
        "branch", "wip"
    ).mode("append").save()
    # main readers see nothing until publish
    assert tbl.read(spark).count() == 1
    assert _connector_read(spark, path).count() == 1
    # audit the staged state through the branch read
    staged = _connector_read(spark, path, branch="wip")
    assert sorted(r["id"] for r in staged.collect()) == [1, 9, 10]
    tbl.fast_forward("wip")
    got = sorted(
        (r["id"], r["v"]) for r in _connector_read(spark, path).collect()
    )
    assert got == [(1, "a"), (9, "staged"), (10, "staged2")]
    _same_rows(_connector_read(spark, path), tbl.read(spark))


def test_batch_write_branch_txn_replay_noop(spark, tmp_path):
    """A txn-stamped branch write replays as a no-op: same stamp →
    commit skipped, re-staged files reclaimed on the spot; and the
    stamp survives fast_forward (a replay landing AFTER publish
    still no-ops instead of restaging published rows on a fresh
    same-name branch)."""
    import glob

    path = str(tmp_path / "t")
    tbl = LakehouseTable(path)
    tbl.append(spark.createDataFrame([(1,)], "id long"))
    tbl.create_branch("wip")

    def stamped_write():
        spark.createDataFrame([(9,)], "id long").write.format(
            "lakehouse"
        ).option("path", path).option("branch", "wip").option(
            "txnAppId", "job-7"
        ).option("txnVersion", "3").mode("append").save()

    stamped_write()
    n_files = len(glob.glob(f"{path}/data/**/*.parquet", recursive=True))
    stamped_write()  # replay: no new staged commit, no leaked files
    m = tbl._read_manifest()
    assert len(m["branches"]["wip"]["snapshots"]) == 1
    assert (
        len(glob.glob(f"{path}/data/**/*.parquet", recursive=True))
        == n_files
    )
    tbl.fast_forward("wip")
    assert tbl.read(spark).count() == 2
    tbl.create_branch("wip")  # fresh same-name branch post-publish
    stamped_write()  # replay after publish: main ledger still no-ops
    m = tbl._read_manifest()
    assert m["branches"]["wip"]["snapshots"] == []
    assert tbl.read(spark).count() == 2


def test_batch_write_branch_refusals(spark, tmp_path):
    """Branch-write option contract: overwrite+branch refuses (a
    branch is a staged APPEND log), unknown branches refuse before
    staging, txn stamps come as a pair and need a branch target,
    and the STREAMING sink still refuses the option."""
    path = str(tmp_path / "t")
    tbl = LakehouseTable(path)
    tbl.append(spark.createDataFrame([(1,)], "id long"))
    tbl.create_branch("wip")
    df = spark.createDataFrame([(9,)], "id long")
    with pytest.raises(Exception, match="overwrite cannot target"):
        df.write.format("lakehouse").option("path", path).option(
            "branch", "wip"
        ).mode("overwrite").save()
    with pytest.raises(Exception, match="not found"):
        df.write.format("lakehouse").option("path", path).option(
            "branch", "nope"
        ).mode("append").save()
    with pytest.raises(Exception, match="pair"):
        df.write.format("lakehouse").option("path", path).option(
            "branch", "wip"
        ).option("txnAppId", "j").mode("append").save()
    with pytest.raises(Exception, match="branch target"):
        df.write.format("lakehouse").option("path", path).option(
            "txnAppId", "j"
        ).option("txnVersion", "1").mode("append").save()
    # the STREAMING sink still refuses the option (its epochs stage
    # via foreachBatch batch-writes instead); streamWriter
    # construction is deferred to query start, so invoke it directly
    src = LakehouseStreamSource(
        {"path": path, "branch": "wip", "txnAppId": "j"}
    )
    with pytest.raises(ValueError, match="foreachBatch"):
        src.streamWriter(src.schema(), overwrite=False)
    assert tbl.read(spark).count() == 1  # main untouched throughout


def test_branch_txn_stamp_never_shadowed_by_lower_branch_stamp(
    spark, tmp_path
):
    """A version already PUBLISHED into main via another branch's
    fast_forward must no-op even on a branch holding a LOWER stamp
    for the same app — the guard takes the MAX over both ledgers,
    not branch-first (r13 review: branch-first let v4 restage on a
    branch whose own ledger stopped at v2)."""
    path = str(tmp_path / "t")
    tbl = LakehouseTable(path)
    tbl.append(spark.createDataFrame([(1,)], "id long"))

    def stamped(branch, ver, val):
        spark.createDataFrame([(val,)], "id long").write.format(
            "lakehouse"
        ).option("path", path).option("branch", branch).option(
            "txnAppId", "app-a"
        ).option("txnVersion", str(ver)).mode("append").save()

    tbl.create_branch("b")
    stamped("b", 2, 92)  # B's ledger: app-a -> 2
    tbl.create_branch("c")
    stamped("c", 5, 95)  # C's ledger: app-a -> 5
    tbl.fast_forward("c")  # main ledger now app-a -> 5
    assert tbl.read(spark).count() == 2  # base + v5 row
    stamped("b", 4, 94)  # delayed replay of v4: must NO-OP on B
    m = tbl._read_manifest()
    assert len(m["branches"]["b"]["snapshots"]) == 1  # still only v2
    assert m["branches"]["b"]["txns"] == {"app-a": 2}  # not bumped
    # (publishing B later would conflict on main's advance anyway —
    # the point pinned here is that v4's rows were never staged)


def test_batch_read_columns_vs_explicit_schema(spark, tmp_path):
    """Spark skips DataSource.schema() when the user passes
    .schema(...) and PINS the output schema to it, so a disagreeing
    columns option cannot narrow — it must refuse loudly instead of
    silently reading every column (r12 review). An explicit NARROW
    schema already is manual pruning and keeps working; a columns
    option that MATCHES the explicit schema is a harmless no-op."""
    from pyspark.sql.types import StructType

    path = str(tmp_path / "t")
    tbl = LakehouseTable(path)
    tbl.append(
        spark.createDataFrame(
            [(1, "a", 2.0)], "id long, v string, s double"
        )
    )
    full = tbl.read(spark).schema
    with pytest.raises(Exception, match="explicit"):
        spark.read.format("lakehouse").schema(full).option(
            "path", path
        ).option("columns", "id,s").load().collect()
    narrow = StructType([full["id"], full["s"]])
    got = (
        spark.read.format("lakehouse")
        .schema(narrow)
        .option("path", path)
        .load()
    )
    assert sorted(map(tuple, got.collect())) == [(1, 2.0)]
    agree = (
        spark.read.format("lakehouse")
        .schema(narrow)
        .option("path", path)
        .option("columns", "id,s")
        .load()
    )
    assert sorted(map(tuple, agree.collect())) == [(1, 2.0)]


def test_big_position_tail_ships_by_reference(spark, tmp_path, monkeypatch):
    """A position-delete tail past the inline threshold ships by
    REFERENCE (VERDICT r12 item 3): task payloads carry delete-file
    PATHS, never O(tail) positions — the pickled partition stays
    O(1) no matter how many rows the tail voids — and the executor
    read (exercised in-process: the reader is plain pyarrow) still
    equals the native overlay read. Below the threshold the tail
    keeps inlining (no extra executor I/O for small deletes)."""
    import pickle

    import pyarrow as pa

    from biglake_iceberg_pipeline_spark.sinks import deletes as src

    monkeypatch.setattr(src, "_POS_INLINE_MAX", 100)
    path = str(tmp_path / "t")
    tbl = LakehouseTable(path)
    tbl.append(
        spark.range(0, 5000)
        .repartition(4)
        .withColumn("v", F.col("id") * 2)
    )
    tbl.delete_where_mor(spark, F.col("id") % 3 == 0)  # ~1667 rows
    schema = tbl.read(spark).schema
    r = LakehouseBatchReader(path, schema, {})
    parts = r.partitions()
    assert len(parts) == 4
    got_ids = []
    for p in parts:
        assert p.deletes.pos == ()  # nothing inlined
        assert p.deletes.pos_refs  # shipped by reference instead
        assert len(pickle.dumps(p)) < 2048  # O(1) payload
        tblchunk = pa.Table.from_batches(list(r.read(p)))
        got_ids += tblchunk.column("id").to_pylist()
    assert sorted(got_ids) == [i for i in range(5000) if i % 3 != 0]
    # below the threshold the same tail inlines again
    monkeypatch.setattr(src, "_POS_INLINE_MAX", 100_000)
    r2 = LakehouseBatchReader(path, schema, {})
    for p in r2.partitions():
        assert p.deletes.pos_refs == () and p.deletes.pos


def test_big_position_tail_end_to_end(spark, tmp_path):
    """The by-reference tail at the REAL threshold, through the whole
    connector stack (Spark plans the source in its own worker, so a
    monkeypatched threshold can't reach it): 120k voided positions >
    _POS_INLINE_MAX, connector read == native overlay read."""
    path = str(tmp_path / "t")
    tbl = LakehouseTable(path)
    tbl.append(
        spark.range(0, 240_000)
        .repartition(4)
        .withColumn("v", (F.col("id") % 97).cast("long"))
    )
    tbl.delete_where_mor(spark, F.col("id") % 2 == 0)  # 120k > 100k
    schema = tbl.read(spark).schema
    r = LakehouseBatchReader(path, schema, {})
    assert all(
        p.deletes.pos_refs and not p.deletes.pos for p in r.partitions()
    )
    got = _connector_read(spark, path)
    assert got.count() == 120_000
    assert got.where("id % 2 = 0").count() == 0
    assert (
        got.agg(F.sum("id")).first()[0]
        == tbl.read(spark).agg(F.sum("id")).first()[0]
    )


def _cdf_read(spark, path: str, start=None, end=None):
    r = (
        spark.read.format("lakehouse")
        .option("path", path)
        .option("readChangeFeed", "true")
    )
    if start is not None:
        r = r.option("startingSnapshotId", str(start))
    if end is not None:
        r = r.option("endingSnapshotId", str(end))
    return r.load()


def test_batch_read_change_feed(spark, tmp_path):
    """Batch CDF through the connector (F48): the streaming CDF's
    classified per-commit changes — appends as inserts, MoR position
    deletes as pre-images, a MoR merge as insert + eq-matched delete
    pre-images — replayed as one bounded batch; sub-ranges bound the
    replay; append-only ranges equal the native change_feed."""
    path = str(tmp_path / "t")
    tbl = LakehouseTable(path)
    tbl.append(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "id long, v string"
        )
    )
    s1 = tbl.current_snapshot_id()
    tbl.append(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10, 13)], "id long, v string"
        )
    )
    s1b = tbl.current_snapshot_id()
    tbl.delete_where_mor(spark, F.col("id") < 3)
    s2 = tbl.current_snapshot_id()
    src = spark.createDataFrame(
        [(5, "NEW"), (100, "ins")], "id long, v string"
    )
    tbl.merge(spark, src, keys=["id"], mode="merge-on-read")
    s3 = tbl.current_snapshot_id()
    full = sorted(
        (r["id"], r["v"], r["_change_type"])
        for r in _cdf_read(spark, path, 0).collect()
    )
    assert full == sorted(
        [(i, f"v{i}", "insert") for i in range(13)]
        + [(i, f"v{i}", "delete") for i in range(3)]
        + [(5, "NEW", "insert"), (100, "ins", "insert"),
           (5, "v5", "delete")]
    )
    # bounded sub-range: exactly the position-delete commit
    mid = sorted(
        (r["id"], r["_change_type"])
        for r in _cdf_read(spark, path, s1b, s2).collect()
    )
    assert mid == [(0, "delete"), (1, "delete"), (2, "delete")]
    # empty range plans empty (downstream already at the tail)
    assert _cdf_read(spark, path, s3).count() == 0
    # append-only range equals the native change_feed
    native = sorted(
        (r["id"], r["v"], r["_change_type"])
        for r in tbl.change_feed(spark, s1, s1b).collect()
    )
    batch = sorted(
        (r["id"], r["v"], r["_change_type"])
        for r in _cdf_read(spark, path, s1, s1b).collect()
    )
    assert native == batch


def test_batch_read_change_feed_guards(spark, tmp_path):
    """Option contract of the batch CDF arm: required start bound,
    no time travel / columns / skipChangeCommits / branch combos,
    end >= start, and CoW-crossing ranges refuse with the
    re-baseline pointer (the keyed native change_feed)."""
    path = str(tmp_path / "t")
    tbl = LakehouseTable(path)
    tbl.append(spark.range(0, 5))
    s1 = tbl.current_snapshot_id()
    with pytest.raises(Exception, match="startingSnapshotId"):
        _cdf_read(spark, path).collect()
    with pytest.raises(Exception, match="cannot combine"):
        (
            spark.read.format("lakehouse")
            .option("path", path)
            .option("readChangeFeed", "true")
            .option("startingSnapshotId", "0")
            .option("snapshotId", str(s1))
            .load()
            .collect()
        )
    with pytest.raises(Exception, match="columns"):
        (
            spark.read.format("lakehouse")
            .option("path", path)
            .option("readChangeFeed", "true")
            .option("startingSnapshotId", "0")
            .option("columns", "id")
            .load()
            .collect()
        )
    with pytest.raises(Exception, match="skipChangeCommits"):
        (
            spark.read.format("lakehouse")
            .option("path", path)
            .option("readChangeFeed", "true")
            .option("startingSnapshotId", "0")
            .option("skipChangeCommits", "true")
            .load()
            .collect()
        )
    with pytest.raises(Exception, match="precedes"):
        _cdf_read(spark, path, s1, 0).collect()
    with pytest.raises(Exception, match="branch"):
        (
            spark.read.format("lakehouse")
            .option("path", path)
            .option("readChangeFeed", "true")
            .option("startingSnapshotId", "0")
            .option("branch", "wip")
            .load()
            .collect()
        )
    # a copy-on-write rewrite redistributes rows: the file diff
    # cannot attribute them — refuse, pointing at the keyed diff
    tbl.delete_where(spark, "id = 0")
    with pytest.raises(Exception, match="change feed cannot stream"):
        _cdf_read(spark, path, 0).collect()


def test_batch_cdf_net_effect_property(spark, tmp_path):
    """The CDF apply law, implementation-agnostic: start-snapshot rows
    plus the classified changes of (start, end] — inserts/postimages
    add, deletes/preimages remove, multiset semantics — must equal
    the end-snapshot read EXACTLY, for a randomized sequence of
    appends, MoR deletes, MoR merges, MoR updates, and row-preserving
    maintenance (which must contribute nothing). This pins the batch
    CDF's change attribution against the table's own read path — two
    independent implementations of 'what changed'."""
    import random
    from collections import Counter

    for seed in (3, 11):
        random.seed(seed)
        path = str(tmp_path / f"t{seed}")
        tbl = LakehouseTable(path)
        next_id = 0

        def fresh_rows(n):
            nonlocal next_id
            rows = [(next_id + i, f"v{next_id + i}") for i in range(n)]
            next_id += n
            return spark.createDataFrame(rows, "id long, v string")

        tbl.append(fresh_rows(20))
        start = tbl.current_snapshot_id()
        start_rows = Counter(
            (r["id"], r["v"]) for r in tbl.read(spark).collect()
        )
        for _ in range(5):
            op = random.choice(
                ["append", "delete", "merge", "update", "maintain"]
            )
            if op == "append":
                tbl.append(fresh_rows(random.randint(1, 8)))
            elif op == "delete":
                m = random.randint(3, 7)
                tbl.delete_where_mor(spark, F.col("id") % m == 1)
            elif op == "merge":
                live = [r["id"] for r in tbl.read(spark).collect()]
                keys = random.sample(live, min(3, len(live)))
                src = spark.createDataFrame(
                    [(k, f"merged{k}") for k in keys]
                    + [(next_id, f"v{next_id}")],
                    "id long, v string",
                )
                next_id += 1
                tbl.merge(
                    spark, src, keys=["id"], mode="merge-on-read"
                )
            elif op == "update":
                m = random.randint(3, 7)
                tbl.update_where(
                    spark,
                    F.col("id") % m == 2,
                    {"v": F.concat(F.col("v"), F.lit("!"))},
                    mode="merge-on-read",
                )
            else:
                tbl.maintain(spark, max_files=4, keep_snapshots=10**6)
        end = tbl.current_snapshot_id()
        if end == start:
            continue
        changes = _cdf_read(spark, path, start, end).collect()
        state = Counter(start_rows)
        for r in changes:
            row = (r["id"], r["v"])
            if r["_change_type"] in ("insert", "update_postimage"):
                state[row] += 1
            else:
                assert r["_change_type"] in (
                    "delete",
                    "update_preimage",
                )
                state[row] -= 1
        state = Counter({k: n for k, n in state.items() if n})
        end_rows = Counter(
            (r["id"], r["v"]) for r in tbl.read(spark).collect()
        )
        assert state == end_rows, f"seed {seed}: CDF net effect diverged"
