"""The merge-on-read delete planner (sinks/deletes.py) against a
Python row model: every reader — the native DataFrame overlay, the
connector (plain and with a pushed range) and the change feed's net
effect — must agree with the model after every step of a walk over
real TPC-H orders rows: append, MoR delete / merge / update, DV
rewrite, a column rename, a branch staged over base deletes,
equality resolution and materialization."""

from __future__ import annotations

import random
from collections import Counter

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from biglake_iceberg_pipeline_spark.sinks.deletes import delete_kind
from biglake_iceberg_pipeline_spark.sinks.lakehouse import (
    LakehouseTable,
    SnapshotNotFoundError,
)
from biglake_iceberg_pipeline_spark.streaming.source import (
    LakehouseBatchReader,
    LakehouseStreamSource,
)

COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
DDL = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double"
)


@pytest.fixture(autouse=True)
def _register(spark):
    spark.dataSource.register(LakehouseStreamSource)


def _orders(sf_dir):
    t = pq.read_table(f"{sf_dir}/orders.parquet", columns=COLS)
    return [tuple(r.values()) for r in t.to_pylist()]


def _rows(df, cols):
    return sorted(map(tuple, df.select(*cols).collect()))


def _tail_kinds(t) -> set:
    m = t._read_manifest()
    return {delete_kind(m, d) for d in m["snapshots"][-1]["deletes"]}


def _connector(spark, path, **options):
    r = spark.read.format("lakehouse").option("path", path)
    for k, v in options.items():
        r = r.option(k, v)
    return r.load()


def _apply_feed(spark, t, net: Counter, since: int, cols) -> int:
    """Fold the change feed of (since, current] into ``net``: +1 per
    insert/postimage, -1 per delete/preimage, per full row. Returns
    the snapshot the feed now reflects."""
    cur = t.current_snapshot_id()
    feed = _connector(
        spark,
        t.path,
        readChangeFeed="true",
        startingSnapshotId=str(since),
        endingSnapshotId=str(cur),
    ).select(*cols, "_change_type")
    for r in feed.collect():
        gone = r["_change_type"] in ("delete", "update_preimage")
        net[tuple(r[c] for c in cols)] += -1 if gone else 1
    assert all(n >= 0 for n in net.values()), net
    return cur


class _Readers:
    """Every reader of one table, checked against the row model: the
    native read, the connector plain and with a pushed key range, and
    the change feed's running net effect."""

    def __init__(self, spark, t, lo, hi):
        self.spark, self.t, self.lo, self.hi = spark, t, lo, hi
        self.net: Counter = Counter()
        self.seen = 0

    def check(self, model: dict, cols):
        spark, t, lo, hi = self.spark, self.t, self.lo, self.hi
        want = sorted(model.values())
        assert _rows(t.read(spark), cols) == want
        assert _rows(_connector(spark, t.path), cols) == want
        ranged = _connector(spark, t.path).where(
            F.col("o_orderkey").between(lo, hi)
        )
        assert _rows(ranged, cols) == [
            r for r in want if lo <= r[0] <= hi
        ]
        self.seen = _apply_feed(spark, t, self.net, self.seen, cols)
        assert sorted(self.net.elements()) == want


def test_every_reader_matches_the_row_model(spark, tmp_path, sf_dir):
    rng = random.Random(4104)
    orders = _orders(sf_dir)
    rng.shuffle(orders)
    base, fresh = orders[:240], orders[240:260]
    path = str(tmp_path / "t")
    t = LakehouseTable(path)
    cols = list(COLS)
    lo, hi = sorted(r[0] for r in rng.sample(base, 2))
    model = {r[0]: r for r in base}
    readers = _Readers(spark, t, lo, hi)

    def frame(rows):
        return spark.createDataFrame(rows, DDL).toDF(*cols)

    t.append(frame(base[:160]).repartition(2))
    t.append(frame(base[160:]))
    readers.check(model, cols)

    t.delete_where(spark, "o_custkey % 5 = 0", mode="merge-on-read")
    gone = [k for k, r in model.items() if r[1] % 5 == 0]
    for k in gone:
        del model[k]
    readers.check(model, cols)

    # upsert live keys, keys the position delete already voided (their
    # pre-images must not emit twice) and brand-new keys
    src = [
        (k, model[k][1], "M", model[k][3])
        for k in rng.sample(sorted(model), 12)
    ]
    src += [(k, 1, "M", 1.0) for k in gone[:3]]
    src += fresh[:5]
    t.merge(spark, frame(src), keys=["o_orderkey"], mode="merge-on-read")
    model.update({r[0]: r for r in src})
    readers.check(model, cols)

    t.update_where(
        spark,
        "o_totalprice > 250000",
        {"o_orderstatus": "'U'"},
        mode="merge-on-read",
    )
    for k, r in model.items():
        if r[3] > 250000:
            model[k] = (r[0], r[1], "U", r[3])
    readers.check(model, cols)

    t.rewrite_position_deletes(spark, as_dv=True)
    assert _tail_kinds(t) == {"dv", "equality"}
    readers.check(model, cols)

    t.rename_column("o_orderstatus", "status")
    cols[2] = "status"
    readers.check(model, cols)

    src2 = [(k, 2, "R", 2.0) for k in rng.sample(sorted(model), 6)]
    src2 += fresh[5:8]
    t.merge(spark, frame(src2), keys=["o_orderkey"], mode="merge-on-read")
    model.update({r[0]: r for r in src2})
    readers.check(model, cols)

    # a branch staged over the base tail: its files carry no added_at
    # stamp, so the base's equality deletes (whose keys the staged
    # rows reuse) must not void them — unstamped is newer than every
    # delete, in the native overlay and the connector alike
    t.create_branch("audit")
    staged = [(src2[0][0], 3, "B", 3.0), fresh[8]]
    t.append_to_branch("audit", frame(staged))
    want_branch = sorted(list(model.values()) + staged)
    assert _rows(t.read(spark, branch="audit"), cols) == want_branch
    assert _rows(_connector(spark, path, branch="audit"), cols) == (
        want_branch
    )

    t.rewrite_position_deletes(spark, resolve_equality=True)
    assert _tail_kinds(t) == {"position"}
    readers.check(model, cols)

    t.materialize_deletes(spark)
    assert not t.snapshots[-1].get("deletes")
    readers.check(model, cols)


def test_connector_read_when_filters_prune_every_file(spark, tmp_path):
    """A point lookup above every file's max, or an IN-list matching
    no file, plans zero partitions: Spark then hands read() one None
    partition, which must read as empty — with and without a delete
    tail."""
    path = str(tmp_path / "t")
    t = LakehouseTable(path)
    t.append(spark.range(0, 100).repartition(2))
    for _ in range(2):
        df = _connector(spark, path)
        assert df.where("id = 1000").count() == 0
        assert df.where("id in (500, 600)").collect() == []
        assert df.where("id = 50").count() == 1
        t.delete_where(spark, "id < 10", mode="merge-on-read")


def test_unknown_snapshot_raises_snapshot_not_found(spark, tmp_path):
    t = LakehouseTable(str(tmp_path / "t"))
    t.append(spark.range(0, 10))
    with pytest.raises(SnapshotNotFoundError):
        t.pruned_files({"id": (1, 2)}, snapshot_id=999)
    with pytest.raises(SnapshotNotFoundError):
        t.pruned_files_any([{"id": (1, 1)}], snapshot_id=999)
    with pytest.raises(SnapshotNotFoundError):
        t.scan(spark, {"id": (1, 2)}, snapshot_id=999)
    with pytest.raises(SnapshotNotFoundError):
        t.row_count(999)
    with pytest.raises(SnapshotNotFoundError):
        t.inspect(spark, "files", snapshot_id=999)
    with pytest.raises(SnapshotNotFoundError):
        LakehouseBatchReader(
            t.path, t.read(spark).schema, {"snapshotid": "999"}
        )
