"""Lakehouse tables as a native Structured Streaming connector
(``format("lakehouse")``): SOURCE and SINK.

The missing half of the continuous medallion: ``start_ingest_to_
lakehouse`` streams INTO a table; the source streams OUT of one — every
append commit (writer appends, published WAP epochs, branch
fast-forwards, ``add_files`` registrations all commit as
``operation="append"``) becomes a micro-batch for downstream
consumers, the Delta/Iceberg ``spark.readStream.format(...)`` analog
on our JSON-manifest tables. Reference-scope parity: the reference's
Eventarc→loader chain notifies downstream services per loaded file
(specs/data_agent_changes.md); this is that notification surface as a
first-class Spark source instead of event plumbing.

Built on the public Python Data Source API (pyspark.sql.datasource,
Spark 4): offsets are snapshot ids, ``partitions(start, end]`` is the
manifest-side file diff of ``LakehouseTable.incremental_scan`` (one
``InputPartition`` per data file — no Spark jobs, no data scan on the
driver), and each partition is read executor-side with pyarrow,
yielding RecordBatches aligned to the committed schema (missing
columns NULL-filled, widened columns upcast, hive-path partition
values restored from the manifest's per-file record — the same
overlay contract as ``LakehouseTable.read``).

Scale: offset planning is O(manifest); each micro-batch reads exactly
the newly committed files, distributed one file per task; a 100 TB
table costs the stream only its new data. Replays are deterministic
because snapshots are immutable — the same (start, end] always yields
the same files, so checkpoint recovery re-reads exactly the pending
batch. ROW-CHANGING non-append commits (merge/delete/update/overwrite/
rollback) redistribute existing rows across new files; a file diff
would replay old rows as new, so the stream raises
``LineageBrokenError`` at such a snapshot (same rule as
``incremental_scan``) — re-baseline downstream from a full read,
exactly as Iceberg's streaming read refuses overwrite snapshots.
Row-PRESERVING rewrites (compaction / delete materialization, stamped
``data_change=False`` — Delta's dataChange flag) are SKIPPED instead:
the stream rides through ``maintain()`` emitting nothing for them.

Merge-on-read delete tails are never interpreted here: the batch
overlay and the change feed's delete pre-images both take each data
file's share of a tail from ``sinks/deletes.py`` (``plan_deletes`` on
the driver, ``voided_mask`` on the executor).

The SINK half (``df.writeStream.format("lakehouse")``) is the same
connector in reverse: executors stream Arrow RecordBatches straight
into staged parquet files under the table (one file per task, no
driver data movement), and the driver-side ``commit(messages,
batchId)`` registers exactly the successful tasks' files as ONE
append snapshot stamped ``txn=(txnAppId, batchId)`` — the
transactional-sink pattern the ``foreachBatch`` ingests use, but as a
declarative format: a replayed epoch's commit no-ops (its re-staged
files are deleted on the spot), a failed epoch's staged files are
removed by ``abort``, and loader-style schema evolution (add/widen,
incompatible rejected) runs against the committed schema at each
commit. Requires ``txnAppId`` — exactly-once is the contract, not an
option. Identity-partitioned tables write hive-style from the sink
(value in the path, column dropped from the file — append()'s exact
layout); declare the spec for a brand-new table with
``.option("partitionBy", "col1,col2")``. Hidden-transform specs stay
refused — evolve/compact after ingest.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from biglake_iceberg_pipeline_spark.sinks.deletes import (
    FileDeletes,
    by_kind,
    delete_kind,
    plan_deletes,
    voided_mask,
)


@dataclass
class _FilePartition(InputPartition):
    file: str
    # raw hive-path values for columns the file does NOT store
    # (identity-partitioned columns live only in the path)
    part_values: dict
    # change-feed label ('insert' / 'update_postimage'); None when
    # the stream is not in CDF mode (no _change_type column emitted)
    ctype: str | None = None
    # {current column name: [prior names]} from the table's rename
    # journal — the executor-side half of metadata-only renames
    renames: dict | None = None
    # merge-on-read overlay for an unmaterialized delete tail (batch
    # reads only; the streaming source diffs tails per snapshot
    # instead): this file's share of the tail from ``plan_deletes``
    deletes: FileDeletes = FileDeletes()


@dataclass
class _DeleteFilePartition(InputPartition):
    """CDF partition for ONE position-delete file: the executor reads
    the (file_path, pos) pairs, then fetches the named rows from the
    still-referenced immutable data files — O(deleted rows) work,
    never a table scan."""

    delete_file: str
    # per referenced data file: hive-path values (overlay contract)
    part_values_by_file: dict
    ctype: str
    # rename-journal map (current -> priors): pre-rename files store
    # the column under a prior name; preimage reads must coalesce
    renames: dict | None = None


@dataclass
class _EqDeletePartition(InputPartition):
    """CDF partition for ONE watermark-scoped candidate data file of
    an equality-delete commit (MoR merge): the executor re-matches the
    file's rows against the commit's (metadata-sized) key sets and
    emits the matches as delete pre-images — O(candidate file) work,
    with candidates pruned at planning by added_at watermark and
    footer key-range intersection."""

    data_file: str
    part_values: dict
    # this commit's new equality deletes in scope for the file; a
    # row matching ANY of them emits once
    deletes: FileDeletes
    ctype: str
    # this file's share of the PREDECESSOR snapshot's tail: rows it
    # already voided must not re-emit a delete pre-image when a later
    # merge matches the same key
    prior: FileDeletes = FileDeletes()
    renames: dict | None = None  # rename-journal map (overlay)


def _mor_overlay_batches(
    partition: _FilePartition, target, project_names=None
):
    """One data file with its merge-on-read delete tail applied —
    the executor half of the batch connector's MoR overlay
    (``voided_mask`` over the file's ``FileDeletes``). Work is
    O(file rows + its deletes); files the planner proved untouched
    never take this path. ``project_names`` drops helper columns
    after masking — a ``columns``-projected read still reads the
    equality-delete KEY columns (the match needs them), then
    projects them away."""
    import pyarrow as pa

    aligned = _overlay_table(
        partition.file,
        partition.part_values,
        target,
        partition.renames,
    )
    voided = voided_mask(aligned, partition.file, partition.deletes)
    out = aligned.filter(pa.array(~voided))
    if project_names is not None:
        out = out.select(list(project_names))
    yield from out.to_batches()


def _eq_preimage_batches(partition: _EqDeletePartition, target):
    """Rows of one candidate data file voided by an equality-delete
    commit, emitted as delete pre-images. Rows ALREADY voided by the
    tail as of the predecessor snapshot are masked out first — a
    later merge matching the same key must not double-emit their
    deletion."""
    import pyarrow as pa

    aligned = _overlay_table(
        partition.data_file,
        partition.part_values,
        target,
        getattr(partition, "renames", None),
    )
    f = partition.data_file
    hit = voided_mask(aligned, f, partition.deletes) & ~voided_mask(
        aligned, f, partition.prior
    )
    if hit.any():
        yield from _with_ctype(
            aligned.filter(pa.array(hit)), partition.ctype
        ).to_batches()


def _resolve_time_travel(options, path: str):
    """The (snapshotId | tag | asOfTimestamp) resolution shared by
    the batch reader and schema(): returns a snapshot id, or None
    when no time-travel option was passed. Raises on combinations."""
    from biglake_iceberg_pipeline_spark.sinks.lakehouse import (
        LakehouseTable,
    )

    snap_opt = options.get("snapshotid")
    tag = options.get("tag")
    as_of = options.get("asoftimestamp")
    if sum(x is not None for x in (snap_opt, tag, as_of)) > 1:
        raise ValueError("pass one of snapshotId / tag / asOfTimestamp")
    if as_of is not None:
        return LakehouseTable(path).snapshot_as_of(float(as_of))
    if tag is not None:
        tags = LakehouseTable(path).tags()
        if tag not in tags:
            raise ValueError(f"tag {tag!r} not found")
        return tags[tag]
    if snap_opt is not None:
        return int(snap_opt)
    return None


def _project_columns(schema: StructType, options) -> StructType:
    """Apply the ``columns`` option to a schema — manual column
    PROJECTION at the source (the Python DataSource API has
    pushFilters but no column-pruning hook, so without this a
    2-column read decodes every column of every parquet file). The
    executor overlay then reads only the projected columns;
    equality-delete keys a live MoR tail needs are read additionally
    executor-side and dropped after masking (see
    LakehouseBatchReader.read). Called from ``schema()`` AND from
    both reader constructors: Spark skips ``schema()`` entirely when
    the user passes an explicit ``.schema(...)``, and the option
    must not silently no-op there (r12 review). Idempotent, so the
    double application is harmless. Refused with readChangeFeed —
    pre-images need full rows; project downstream of the feed."""
    cols_opt = options.get("columns")
    if not cols_opt:
        return schema
    if _opt_flag(options, "readChangeFeed"):
        raise ValueError(
            "columns cannot combine with readChangeFeed: change "
            "classification reads pre-images by their full key "
            "set — project downstream of the feed instead"
        )
    want = [c.strip() for c in str(cols_opt).split(",") if c.strip()]
    by_name = {f.name: f for f in schema.fields}
    missing = [c for c in want if c not in by_name]
    if missing:
        raise ValueError(
            f"columns option names unknown columns {missing}; "
            f"schema has {list(by_name)}"
        )
    return StructType([by_name[c] for c in want])


def _opt_flag(options, name: str) -> bool:
    v = options.get(name.lower())
    if v is None:
        v = options.get(name)
    return str(v).lower() in ("true", "1") if v is not None else False


def _overlay_table(file: str, part_values: dict, target, renames=None):
    """One data file → a pyarrow Table aligned to the declared Arrow
    schema: project to declared columns, upcast widened ones,
    NULL-fill columns added after the file was written, restore
    hive-path partition values with committed types. Row order is the
    file's physical order, so positions index into it directly (the
    merge-on-read coordinate contract). Shared by the streaming
    source, the CDF delete reader, and the batch reader — the
    executor-side half of ``LakehouseTable._read_files``'s overlay
    contract."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(file)
    have = set(pf.schema_arrow.names)
    # a renamed column reads its write-time vintage name from files
    # predating the rename (metadata-only rename: bytes never move)
    vintage = {}
    for field in target:
        if field.name not in have and renames:
            for prior in renames.get(field.name, ()):
                if prior in have:
                    vintage[field.name] = prior
                    break
    want = [n for n in target.names if n in have] + list(
        vintage.values()
    )
    tbl = pf.read(columns=want)
    n = tbl.num_rows
    arrays = []
    for field in target:
        if field.name in have:
            arrays.append(tbl.column(field.name).cast(field.type))
        elif field.name in vintage:
            arrays.append(
                tbl.column(vintage[field.name]).cast(field.type)
            )
        elif field.name in part_values:
            raw = part_values[field.name]
            col = pa.array([raw] * n, type=pa.string())
            arrays.append(col.cast(field.type))
        else:
            # pre-evolution file: added column surfaces NULL,
            # same as the batch read overlay
            arrays.append(pa.nulls(n, type=field.type))
    return pa.Table.from_arrays(arrays, schema=target)


def _overlay_batches(partition: _FilePartition, target):
    yield from _overlay_table(
        partition.file,
        partition.part_values,
        target,
        getattr(partition, "renames", None),
    ).to_batches()


def _pushed_row_batches(batches, ranges, in_lists):
    """Row-level application of the pushed-filter ranges the planner
    already uses for file skipping — executor-side, AFTER any delete
    overlay (positions index physical order, so masking must happen
    first). Guide §4: the Python DataSource boundary's cost is how
    many rows cross it as Arrow; a point lookup that plans down to
    one file still shipped that WHOLE file to the JVM for Spark's
    row-wise re-filter. Every range/in-list comes from a
    null-rejecting top-level conjunct (EqualTo / >,>= / <,<= /
    StartsWith as a successor-bounded closed range, intersected per
    column), so a row outside the closed range — or NULL in the
    column — can never survive Spark's re-application; dropping it
    here changes transferred bytes, never results. Boundary rows a
    strict predicate would drop (StartsWith successor, > vs >=) are
    KEPT (closed-range test) and re-filtered by Spark. Any
    evaluation problem (missing column, incomparable types) keeps
    the batch whole — correctness never depends on this filter."""
    import pyarrow.compute as pc

    for batch in batches:
        mask = None
        try:
            names = set(batch.schema.names)
            for col, (lo, hi) in ranges.items():
                if col not in names:
                    continue
                arr = batch.column(col)
                m = pc.is_valid(arr)
                if lo is not None:
                    m = pc.and_(m, pc.greater_equal(arr, lo))
                if hi is not None:
                    m = pc.and_(m, pc.less_equal(arr, hi))
                mask = m if mask is None else pc.and_(mask, m)
            for col, vals in in_lists.items():
                if col not in names:
                    continue
                arr = batch.column(col)
                import pyarrow as pa

                m = pc.is_in(
                    arr, value_set=pa.array(vals).cast(arr.type)
                )
                m = pc.and_(pc.is_valid(arr), m)
                mask = m if mask is None else pc.and_(mask, m)
        except Exception:
            mask = None  # conservative: ship the batch whole
        yield batch if mask is None else batch.filter(mask)


def _with_ctype(tbl, ctype: str):
    """Append the CDF label column to an aligned table."""
    import pyarrow as pa

    return tbl.append_column(
        "_change_type",
        pa.array([ctype] * tbl.num_rows, type=pa.string()),
    )


def _delete_preimage_batches(
    partition: _DeleteFilePartition, target
):
    """Rows a position-delete file voided, read back from their
    still-referenced immutable data files — the CDF 'delete' /
    'update_preimage' stream. Work is O(deleted rows) + one overlay
    read per REFERENCED file; untouched files are never opened."""
    import pyarrow.parquet as pq

    dels = pq.read_table(
        partition.delete_file, columns=["file_path", "pos"]
    )
    by_file: dict[str, list[int]] = {}
    for fp, pos in zip(
        dels.column("file_path").to_pylist(),
        dels.column("pos").to_pylist(),
    ):
        by_file.setdefault(fp, []).append(pos)
    for fp in sorted(by_file):
        aligned = _overlay_table(
            fp,
            partition.part_values_by_file.get(fp, {}),
            target,
            getattr(partition, "renames", None),
        )
        taken = aligned.take(sorted(by_file[fp]))
        yield from _with_ctype(taken, partition.ctype).to_batches()


_DBG_PATH = os.environ.get("SPARK_GRAFT_STREAM_DEBUG")


def _dbg(msg: str) -> None:
    """Offset-protocol tracer (set SPARK_GRAFT_STREAM_DEBUG=<file>):
    the engine's call order across reader instances is the whole
    correctness story here (see the cursor notes) — keep the probe."""
    if _DBG_PATH:
        import time

        with open(_DBG_PATH, "a") as f:
            f.write(f"{os.getpid()} {time.monotonic():.3f} {msg}\n")


class LakehouseStreamSource(DataSource):
    """``spark.readStream.format("lakehouse").option("path", p)``.

    Options:

    - ``path`` (required): the table directory.
    - ``startingSnapshotId``: consume commits strictly AFTER this
      snapshot (the ``incremental_scan`` baseline). Default ``0`` —
      the table's full history: the first micro-batch replays every
      live append from the beginning, then the stream tails new
      commits (Delta's readStream default).
    - ``maxFilesPerTrigger``: soft cap on data files per micro-batch.
      Offsets advance whole snapshots (a snapshot is the atomic unit
      of exactly-once), accumulating snapshots until the cap is
      reached — always at least one. The rate-limit cursor (the last
      offset handed to the engine) is DURABLE: it lives under the
      table as lock-free ``_streams/<key>.cursor-<n>`` marker files
      (the value IS the filename; advances create a new marker, so
      the max never regresses), because Spark instantiates the Python stream
      reader more than once per query (planning vs. restart vs.
      schema paths) and an instance-memory cursor lets two instances
      hand out non-monotonic offsets — the offset log then walks
      backwards and re-advancing replays committed snapshots as
      duplicates. The cursor is seeded from ``startingSnapshotId``
      on first contact and healed from engine-passed ranges after
      restarts; a cursor regression (file removed under a live
      checkpoint) fails the query loudly rather than re-delivering.
      Meant for continuous triggers:
      ``Trigger.AvailableNow`` snapshots the first rate-limited
      offset as its drain target, so an availableNow run processes
      one capped batch per start (still exactly-once — the next
      start continues).
    - ``maxRowsPerTrigger``: soft cap on ROWS per micro-batch, from
      the manifest's parquet-footer row counts (no scan) — snapshot-
      granular like the file cap, always at least one snapshot;
      files predating row-count tracking never share a batch.
      Composes with ``maxFilesPerTrigger`` (both caps apply).
    - ``maxBytesPerTrigger``: soft cap on BYTES per micro-batch from
      the manifest's recorded file sizes (Iceberg's
      file_size_in_bytes) — the cap that actually bounds executor
      memory when row width varies; same snapshot-granular
      semantics, composes with the other caps.
    - ``endingSnapshotId``: bounded backfill — the stream never
      advances past this snapshot (inclusive); pair with
      ``startingSnapshotId`` to replay an exact commit range through
      the streaming pipeline, then the stream idles at the bound.
    - ``branch`` (batch only): read a named branch's staged WAP
      state — the branch tail's files with the base snapshot's
      outstanding MoR delete tail applied through the same per-file
      overlay. Mutually exclusive with snapshotId/tag/asOfTimestamp;
      manifest-stats file skipping is snapshot-keyed, so branch
      reads skip pruning (filters still apply row-wise). Streams
      refuse it (publish the branch, then stream).
    - ``columns``: comma-separated PROJECTION applied at the source
      (batch and streaming) — the Python DataSource API has
      pushFilters but no column-pruning hook, so without this a
      two-column read decodes every column of every parquet file.
      The executor overlay reads only the projected columns; a
      masked MoR read additionally reads (then drops) the
      equality-delete key columns it must match on. Refused with
      ``readChangeFeed`` (pre-images need full rows — project
      downstream of the feed).
    - ``skipChangeCommits``: ``"true"`` streams ONLY appends and
      rides the offset past every row-changing transaction
      (delete/merge/update/overwrite) instead of raising the lineage
      error — Delta's skipChangeCommits: the consumer either
      tolerates unpropagated deletes or handles them out-of-band.
      The skipped commit is elided WHOLE (merge postimages too: they
      pair with deletions this mode chose not to see); later appends
      diff against the post-rewrite file set. Mutually exclusive
      with ``readChangeFeed``, which exists to classify exactly the
      commits this option skips.
    - ``readChangeFeed``: ``"true"`` streams CLASSIFIED row changes
      instead of raw appended rows (Delta CDF readStream / Iceberg
      changelog scan — the batch ``change_feed``'s continuous form):
      the output schema gains a ``_change_type`` string column and
      merge-on-read commits stream through instead of raising —
      appends emit ``insert`` rows; ``delete_where
      (mode="merge-on-read")`` commits emit ``delete`` rows (the
      pre-images read back from the immutable data files at the
      positions the delete files name — O(deleted rows), no scan);
      MoR UPDATE commits emit ``update_preimage`` /
      ``update_postimage``; MoR MERGE commits (equality deletes)
      emit the incoming rows as ``insert`` plus the voided old rows
      as ``delete`` — candidates pruned at planning by the added_at
      watermark and footer key-range intersection, matched
      executor-side with a vectorized NULL-safe key ``is_in``
      against the metadata-sized delete files, with rows already
      voided by the earlier tail masked out so repeated merges on
      one key never double-emit. (A merge upsert streams as
      delete+insert, not update_pre/postimage: the commit does not
      record which incoming rows matched.) Commits that REDISTRIBUTE
      rows — CoW rewrites, compaction, overwrite, rollback — still
      raise ``LineageBrokenError`` (a file diff cannot attribute
      moved rows). RECOVERY RECIPE (pinned by
      tests/test_stream_source.py::test_cdf_stream_maintenance_rebaseline):
      when ``maintain()``/``compact()`` kills a CDF stream, (1) note
      the last snapshot the stream committed (its checkpoint offset,
      or track it in the sink), (2) run the keyed batch diff
      ``table.change_feed(spark, from_snapshot_id=last, keys=[...])``
      and apply those classified rows to the downstream state — the
      keyed snapshot diff attributes changes ACROSS the rewrite, so
      nothing is lost or double-applied, (3) restart the stream with
      a FRESH checkpoint and
      ``startingSnapshotId=<current snapshot>`` to tail commits after
      the re-baseline point. Snapshot-granular offsets, rate caps,
      and exactly-once semantics are unchanged.
    - ``streamId``: optional stable identity for the rate-limit
      cursor file. Defaults to a digest of the offset-shaping
      options (startingSnapshotId/caps/endingSnapshotId) — two
      CONCURRENT rate-limited queries on one table with identical
      options should pass distinct streamIds; sharing a cursor never
      breaks exactly-once (the engine's own offset log bounds every
      batch) but weakens the per-query file cap. NOTE the durable
      cursor OUTLIVES the query: a brand-new query (fresh
      checkpoint, same options) on a previously-streamed table reads
      the old cursor, so its first batch spans from its own start
      offset to the old cursor in ONE batch — bypassing the rate
      caps exactly when the backlog is largest (safe for
      correctness, heavy on memory). Pass a per-QUERY streamId
      (e.g. the checkpoint path) to scope the cursor; a warning is
      logged when a rate-limited stream first reads a pre-existing
      cursor ahead of its start.
    """

    @classmethod
    def name(cls) -> str:
        return "lakehouse"

    def _path(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError(
                "lakehouse source requires .option('path', <table dir>)"
            )
        return path

    def schema(self) -> StructType:
        from biglake_iceberg_pipeline_spark.sinks.lakehouse import (
            load_manifest,
        )

        m = load_manifest(self._path())
        branch = self.options.get("branch")
        schema_json = None
        if branch is not None:
            # branch schema FIRST: a branch-first table (first
            # commits staged via append_to_branch) has no committed
            # MAIN schema yet, only the branch's (r12 review)
            from biglake_iceberg_pipeline_spark.sinks.lakehouse import (  # noqa: E501
                LakehouseTable,
            )

            br = LakehouseTable(self._path())._branch_state(m, branch)
            schema_json = br.get("schema")
        if not schema_json:
            schema_json = m.get("schema")
        if not schema_json:
            raise ValueError(
                f"lakehouse table at {self._path()} has no committed "
                "schema yet (no snapshots) — pass .schema(...) "
                "explicitly to stream a table created later"
            )
        if branch is None and _opt_flag(
            self.options, "useSnapshotSchema"
        ):
            # Iceberg-style as-of-schema time travel for BATCH reads
            # (streams always follow the current schema): resolve the
            # travel target and overlay the schema it committed under
            from biglake_iceberg_pipeline_spark.sinks.lakehouse import (  # noqa: E501
                LakehouseTable,
            )

            sid = _resolve_time_travel(self.options, self._path())
            if sid is not None:
                sj = LakehouseTable._schema_as_of(m, sid)
                if sj:
                    schema_json = sj
        schema = StructType.fromJson(json.loads(schema_json))
        schema = _project_columns(schema, self.options)
        if _opt_flag(self.options, "readChangeFeed"):
            from pyspark.sql.types import StringType, StructField

            schema = StructType(
                schema.fields
                + [StructField("_change_type", StringType(), False)]
            )
        return schema

    def streamReader(self, schema: StructType) -> "LakehouseStreamReader":
        if self.options.get("branch") is not None:
            raise ValueError(
                "branch is a batch read option; streams tail the "
                "main history (publish the branch, then stream)"
            )
        return LakehouseStreamReader(self._path(), schema, self.options)

    def reader(self, schema: StructType):
        if _opt_flag(self.options, "readChangeFeed"):
            # batch CDF (F48): classified row changes over an exact
            # snapshot range through the same public API as the
            # streaming CDF — one plan, two trigger modes
            return LakehouseBatchCDFReader(
                self._path(), schema, self.options
            )
        return LakehouseBatchReader(self._path(), schema, self.options)

    def writer(
        self, schema: StructType, overwrite: bool
    ) -> "LakehouseBatchWriter":
        return LakehouseBatchWriter(
            self._path(), schema, self.options, overwrite
        )

    def streamWriter(
        self, schema: StructType, overwrite: bool
    ) -> "LakehouseStreamWriter":
        if self.options.get("branch") is not None:
            raise ValueError(
                "the streaming sink writes to main; to stage a "
                "stream's epochs on a branch (WAP), write each batch "
                "via foreachBatch with df.write.format('lakehouse')"
                ".option('branch', name) and txnAppId/txnVersion "
                "stamps, then fast_forward after the audit"
            )
        if overwrite:
            raise ValueError(
                "lakehouse streaming sink is append-only (outputMode "
                "'append'); complete/update modes rewrite state"
            )
        return LakehouseStreamWriter(self._path(), schema, self.options)


class LakehouseStreamReader(DataSourceStreamReader):
    def __init__(self, path: str, schema: StructType, options):
        self._path = path
        # user-supplied .schema(...) bypasses DataSource.schema() and
        # PINS the output schema — a disagreeing columns option must
        # refuse, not silently no-op (schema()-derived schemas are
        # already projected, so this is a no-op for them)
        projected = _project_columns(schema, options)
        if [f.name for f in projected] != [f.name for f in schema]:
            raise ValueError(
                "columns option conflicts with an explicit "
                ".schema(...): Spark pins the output schema — "
                "narrow the schema itself (that already prunes) or "
                "drop the option"
            )
        self._schema = schema
        self._starting = int(options.get("startingSnapshotId", 0))
        ending = options.get("endingSnapshotId")
        self._ending = int(ending) if ending is not None else None
        mft = options.get("maxFilesPerTrigger")
        self._max_files = int(mft) if mft is not None else None
        mrt = options.get("maxRowsPerTrigger")
        self._max_rows = int(mrt) if mrt is not None else None
        mbt = options.get("maxBytesPerTrigger")
        self._max_bytes = int(mbt) if mbt is not None else None
        self._cdf = _opt_flag(options, "readChangeFeed")
        # Delta parity: skip row-changing transactions entirely and
        # stream only appends (the consumer handles deletes some
        # other way, or tolerates them). Contradicts CDF — that mode
        # exists to CLASSIFY the changes this one ignores.
        self._skip_changes = _opt_flag(options, "skipChangeCommits")
        if self._skip_changes and self._cdf:
            raise ValueError(
                "skipChangeCommits contradicts readChangeFeed: the "
                "change feed classifies exactly the commits this "
                "option skips — pass one or the other"
            )
        stream_id = options.get("streamid") or options.get("streamId")
        if stream_id is None:
            # every option that shapes offsets is part of the key — a
            # bounded backfill must never read an unbounded run's
            # cursor (it would idle past its own ending bound)
            stream_id = (
                f"start={self._starting}:mft={self._max_files}"
                f":mrt={self._max_rows}:mbt={self._max_bytes}"
                f":end={self._ending}"
            )
            if self._cdf:
                # appended only when ON: a pre-r8 rate-limited
                # stream's durable cursor keeps its derived key — a
                # key change would orphan the marker and fail the
                # first restart with 'offset regressed'
                stream_id += ":cdf=True"
            if self._skip_changes:
                # same back-compat rule: the option shapes which
                # snapshots emit, so it is part of the offset key,
                # appended only when ON
                stream_id += ":skip=True"
        import hashlib

        self._cursor_key = hashlib.sha1(stream_id.encode()).hexdigest()[
            :16
        ]
        self._rate_limited = (
            self._max_files is not None
            or self._max_rows is not None
            or self._max_bytes is not None
        )
        self._arrow_schema = None  # executor-side cache

    # ------------------------------------------------- cursor state
    #
    # The rate-limit cursor = the highest offset any reader instance
    # has handed to the engine (or seen committed). It must survive
    # reader re-instantiation: Spark builds more than one
    # DataSourceStreamReader per query, and if the offset-serving
    # instance misses initialOffset its private cursor starts None —
    # it then either returns the tail unbounded on a stream another
    # instance already capped, or hands out an offset BEHIND one
    # already logged, and the engine replans overlapping snapshot
    # ranges under new batchIds (duplicate rows). Durable +
    # monotonic-max fixes both: every instance reads the same
    # cursor, and offsets never move backwards.
    #
    # NOTE the cursor outlives the query: a brand-new query (fresh
    # checkpoint) on a previously-streamed table reads the old
    # cursor and takes its whole backlog as ONE uncapped first batch
    # (safe, but heavy). Pass a per-query streamId (e.g. the
    # checkpoint path) to scope the cursor when that matters.

    def _cursor_dir(self) -> str:
        return os.path.join(self._path, "_streams")

    def _read_cursor(self) -> int | None:
        """Max over ``<key>.cursor-<n>`` marker files — LOCK-FREE.
        The cursor value lives in the FILENAME: an advance creates a
        new marker and (best-effort) unlinks lower ones, so no file
        is ever rewritten and two racing writers cannot regress the
        max — the monotonic invariant holds without any lock, and an
        idle trigger costs one directory LIST. All marker I/O moves
        through the FileIO seam (sinks/fileio.py): create is a
        conditional PUT, reap an idempotent DELETE — the durable
        cursor works on an object store exactly as on POSIX."""
        from biglake_iceberg_pipeline_spark.sinks.fileio import (
            fileio_for,
        )

        names = fileio_for(self._path).list(self._cursor_dir())
        prefix = f"{self._cursor_key}.cursor-"
        best = None
        for n in names:
            if n.startswith(prefix):
                try:
                    v = int(n[len(prefix):])
                except ValueError:
                    continue
                if best is None or v > best:
                    best = v
        return best

    def _advance_cursor(self, end: int) -> None:
        from biglake_iceberg_pipeline_spark.sinks.fileio import (
            fileio_for,
        )

        cur = self._read_cursor()
        if cur is not None and end <= cur:
            return
        io = fileio_for(self._path)
        d = self._cursor_dir()
        io.makedirs(d)
        # another instance placing the same marker is fine: same max
        io.put_if_absent(
            os.path.join(d, f"{self._cursor_key}.cursor-{end}")
        )
        # reap superseded markers (best-effort; steady state is one)
        prefix = f"{self._cursor_key}.cursor-"
        for n in io.list(d):
            if n.startswith(prefix):
                try:
                    if int(n[len(prefix):]) < end:
                        io.delete(os.path.join(d, n))
                except (ValueError, OSError):
                    pass

    # ------------------------------------------------------ offsets

    def initialOffset(self) -> dict:
        # fresh stream: seed the durable cursor at `starting` (max-
        # merge — a concurrent query sharing the key is never pulled
        # backwards). The engine's own checkpoint owns the start
        # offset from here on.
        if self._rate_limited:
            self._advance_cursor(self._starting)
        _dbg(f"initialOffset -> {self._starting}")
        return {"snapshot_id": self._starting}

    @staticmethod
    def _added_per_snapshot(
        snaps: list[dict], lo_idx: int, hi_idx: int
    ) -> list[tuple[dict, list[str]]]:
        """(snapshot, files-new-in-it) for snaps[lo_idx+1 .. hi_idx],
        diffing each snapshot's cumulative file list against its
        predecessor's (append snapshots re-list earlier files)."""
        out = []
        prev = set(snaps[lo_idx]["files"]) if lo_idx >= 0 else set()
        for s in snaps[lo_idx + 1 : hi_idx + 1]:
            cur = list(dict.fromkeys(s["files"]))
            out.append((s, [f for f in cur if f not in prev]))
            prev = set(cur)
        return out

    def _resolve_range(
        self, snaps: list[dict], s0: int, s1: int, m: dict
    ) -> tuple[int, int]:
        """Indices (lo, hi) for the (s0, s1] snapshot range, with the
        same lineage guards as ``incremental_scan``: every id in
        [s0, s1] must survive contiguously (an expiry gap could hide
        a rewrite) and every snapshot in the range must be an append —
        or, in change-feed mode, a CDF-STREAMABLE commit: an append,
        or a merge-on-read delete/update/merge whose file set only
        GROWS — position-delete pre-images read back by coordinate,
        equality-delete pre-images by re-matching the watermark-scoped
        candidate files against the (metadata-sized) key set. A CoW
        rewrite REDISTRIBUTES rows, which a file-level diff cannot
        attribute — still a lineage break."""
        from biglake_iceberg_pipeline_spark.sinks.lakehouse import (
            LineageBrokenError,
            SnapshotNotFoundError,
        )

        ids = [s["id"] for s in snaps]
        if s0 > 0 and s0 not in ids:
            raise LineageBrokenError(
                f"stream baseline snapshot {s0} expired from "
                f"{self._path}; re-baseline downstream from a full read"
            )
        if s1 not in ids:
            raise SnapshotNotFoundError(
                f"snapshot {s1} not found in {self._path}"
            )
        lo = ids.index(s0) if s0 > 0 else -1
        hi = ids.index(s1)
        expect = list(range(s0 if s0 > 0 else ids[0], s1 + 1))
        got = ids[max(lo, 0) : hi + 1]
        if got != expect:
            raise LineageBrokenError(
                "stream range has expired intermediate snapshots "
                "(history gap); re-baseline downstream from a full read"
            )
        if not self._cdf:
            if self._skip_changes:
                # skipChangeCommits: every row-changing transaction
                # in the range is skipped at planning, so nothing
                # here can mis-attribute rows — no lineage check
                return lo, hi
            non_append = [
                s["id"]
                for s in snaps[lo + 1 : hi + 1]
                if s["operation"] != "append"
                # Delta's dataChange=false: compaction / delete
                # materialization preserve the logical row set — the
                # stream rides through them emitting nothing instead
                # of demanding a re-baseline (VERDICT r9 item 1)
                and s.get("data_change") is not False
            ]
            if non_append:
                raise LineageBrokenError(
                    f"stream crosses rewrite snapshots {non_append} "
                    "(merge/delete/update/overwrite/rollback "
                    "redistribute existing rows); re-baseline "
                    "downstream from a full read, stream with "
                    ".option('readChangeFeed', 'true') if the "
                    "rewrites are merge-on-read position deletes, "
                    "or .option('skipChangeCommits', 'true') to "
                    "stream appends only"
                )
            return lo, hi
        for idx in range(lo + 1, hi + 1):
            s = snaps[idx]
            prev = snaps[idx - 1] if idx > 0 else {"files": []}
            if s.get("data_change") is False:
                # row-preserving rewrite: contributes no change rows;
                # the next snapshot's guards diff against ITS file
                # set (a superset for appends, the compacted set for
                # the grows-only check), which is exactly the state
                # the planner will carry forward
                continue
            bad = None
            if s["operation"] not in (
                "append",
                "delete",
                "update",
                "merge",
            ):
                bad = f"operation {s['operation']!r}"
            elif not set(prev["files"]) <= set(s["files"]):
                bad = "files were removed (copy-on-write rewrite)"
            else:
                prev_tail = set(prev.get("deletes", []))
                unknown = [
                    delete_kind(m, d)
                    for d in s.get("deletes", [])
                    if d not in prev_tail
                    and delete_kind(m, d) not in ("position", "equality")
                ]
                if unknown:
                    bad = f"delete files of unknown kind {unknown}"
            if bad:
                raise LineageBrokenError(
                    f"change feed cannot stream snapshot {s['id']}: "
                    f"{bad}; re-baseline downstream from a full read "
                    "(or use the keyed batch change_feed)"
                )
        return lo, hi

    def latestOffset(self) -> dict:
        from biglake_iceberg_pipeline_spark.sinks.lakehouse import (
            load_manifest,
        )

        _dbg(f"latestOffset cursor={self._read_cursor()}")
        m = load_manifest(self._path)
        snaps = m["snapshots"]
        if not snaps:
            return {"snapshot_id": self._starting}
        tail = snaps[-1]["id"]
        if self._ending is not None:
            # bounded backfill: never hand out past the ending
            # snapshot; the stream idles there (stop it with
            # availableNow, or let a monitor see zero progress)
            tail = min(tail, self._ending)
            if tail < self._starting:
                return {"snapshot_id": self._starting}
        if not self._rate_limited:
            # un-rate-limited: always the tail (monotonic by
            # construction — snapshot ids only grow). Validate
            # eagerly so the failure carries the lineage message
            # instead of surfacing later inside planning.
            base = max(self._read_cursor() or 0, self._starting)
            if tail > base:
                self._resolve_range(snaps, base, tail, m)
            end = max(tail, self._starting)
            self._advance_cursor(end)
            return {"snapshot_id": end}
        cursor = self._read_cursor()
        if (
            cursor is not None
            and cursor > self._starting
            and not getattr(self, "_cursor_preexist_checked", False)
        ):
            # first contact of THIS reader instance with a cursor
            # already ahead of its start: on a query RESTART that is
            # normal (the checkpoint owns the start offset), but on
            # a brand-new query (fresh checkpoint, same derived
            # streamId) it means the first batch will span
            # (starting, cursor] in ONE uncapped batch — surface it
            self._cursor_preexist_checked = True
            import logging

            logging.getLogger(__name__).warning(
                "lakehouse stream %s: durable rate-limit cursor is "
                "already at snapshot %d (start %d). If this is a NEW "
                "query rather than a restart, its first batch covers "
                "that whole range at once, bypassing maxFiles/Rows/"
                "BytesPerTrigger — pass a per-query "
                ".option('streamId', ...) (e.g. the checkpoint path) "
                "to scope the cursor to the query.",
                self._path,
                cursor,
                self._starting,
            )
        if cursor is None:
            # no durable cursor. The observed engine behavior (Spark
            # 4.1) is latestOffset BEFORE initialOffset on a fresh
            # stream, so this is the normal first call: cap from
            # `starting` (the offset initialOffset will hand the
            # engine). The one unsafe shape — a RESTART whose cursor
            # file was manually removed — would make this offset
            # lower than the engine's committed one; partitions()
            # detects that regression and fails loudly instead of
            # letting the offset log walk backwards into duplicate
            # delivery.
            cursor = self._starting
        if tail <= cursor:
            return {"snapshot_id": cursor}
        lo, hi = self._resolve_range(snaps, cursor, tail, m)
        file_rows = m.get("file_rows", {})
        file_sizes = m.get("file_sizes", {})
        inf = float("inf")
        taken_files = 0
        taken_rows = 0.0
        taken_bytes = 0.0
        end = cursor
        for snap, added in self._added_per_snapshot(snaps, lo, hi):
            if snap.get("data_change") is False or (
                self._skip_changes and snap["operation"] != "append"
            ):
                # row-preserving rewrite — or a row-changing commit
                # skipChangeCommits elides: emits nothing, so it
                # costs nothing against the rate-limit budgets —
                # ride the offset past it unconditionally
                end = snap["id"]
                continue
            # a file missing a footer row count / byte size
            # (pre-tracking history) counts as infinite: that
            # snapshot still advances alone (always at least one),
            # but never shares a batch
            rows = sum(
                file_rows.get(f, inf) for f in added
            ) if self._max_rows is not None else 0.0
            nbytes = sum(
                file_sizes.get(f, inf) for f in added
            ) if self._max_bytes is not None else 0.0
            if end > cursor and (
                (
                    self._max_files is not None
                    and taken_files + len(added) > self._max_files
                )
                or (
                    self._max_rows is not None
                    and taken_rows + rows > self._max_rows
                )
                or (
                    self._max_bytes is not None
                    and taken_bytes + nbytes > self._max_bytes
                )
            ):
                break
            taken_files += len(added)
            taken_rows += rows
            taken_bytes += nbytes
            end = snap["id"]
        self._advance_cursor(end)
        return {"snapshot_id": end}

    def commit(self, end: dict) -> None:
        _dbg(f"commit {end}")
        if self._rate_limited:
            self._advance_cursor(end["snapshot_id"])

    # --------------------------------------------------- partitions

    def partitions(self, start: dict, end: dict):
        _dbg(f"partitions {start} {end}")
        s0, s1 = start["snapshot_id"], end["snapshot_id"]
        if s1 < s0:
            # the engine's durable start is AHEAD of the end we
            # handed out — the rate-limit cursor regressed (cursor
            # file removed under a live checkpoint). Planning this
            # range as empty would commit a backwards offset and the
            # next advance would re-deliver consumed snapshots; fail
            # loudly and re-seed the cursor from the engine's start
            # so a restarted query continues exactly-once.
            if self._rate_limited:
                self._advance_cursor(s0)
            raise RuntimeError(
                f"lakehouse stream offset regressed: engine start "
                f"{s0} > planned end {s1} (rate-limit cursor under "
                f"{self._path}/_streams was removed?); cursor "
                "re-seeded — restart the query"
            )
        if s1 == s0:
            return []
        if self._rate_limited:
            # heal the cursor from the engine's authoritative range
            # (covers replanned pending batches after a restart)
            cur = self._read_cursor()
            if cur is None or s1 > cur:
                self._advance_cursor(s1)
        from biglake_iceberg_pipeline_spark.sinks.lakehouse import (
            column_rename_map,
            load_manifest,
        )

        m = load_manifest(self._path)
        snaps = m["snapshots"]
        lo, hi = self._resolve_range(snaps, s0, s1, m)
        fparts = m.get("file_partitions", {})
        renames = column_rename_map(m)
        declared = {
            f.name
            for f in self._schema.fields
            if f.name != "_change_type"
        }

        def pv_for(f):
            return {
                k: v
                for k, v in fparts.get(f, {}).items()
                if k in declared
            }

        parts: list = []
        prev: dict = snaps[lo] if lo >= 0 else {"files": []}
        for snap, added in self._added_per_snapshot(snaps, lo, hi):
            if snap.get("data_change") is False:
                # row-preserving rewrite (compaction / delete
                # materialization): its "added" files hold only rows
                # already delivered — emit nothing, but advance the
                # carried state so the NEXT snapshot diffs against
                # the post-rewrite file set and delete tail
                prev = snap
                continue
            if self._skip_changes and snap["operation"] != "append":
                # Delta's skipChangeCommits: the whole row-changing
                # transaction is skipped — postimages included (they
                # pair with deletions this mode chose not to see) —
                # but the carried file set advances so later appends
                # diff against the post-rewrite state
                prev = snap
                continue
            is_update = snap["operation"] == "update"
            ins_label = (
                ("update_postimage" if is_update else "insert")
                if self._cdf
                else None
            )
            for f in added:
                parts.append(
                    _FilePartition(
                        file=f,
                        part_values=pv_for(f),
                        ctype=ins_label,
                        renames=renames,
                    )
                )
            if self._cdf:
                parts += self._change_partitions(
                    m, prev, snap, pv_for, renames
                )
            prev = snap
        return parts

    @staticmethod
    def _change_partitions(m, prev, snap, pv_for, renames) -> list:
        """Delete-side CDF partitions of one merge-on-read commit:
        one ``_DeleteFilePartition`` per new position-delete file
        (pre-images read back by coordinate), and one
        ``_EqDeletePartition`` per candidate data file of its new
        equality deletes — ``plan_deletes`` scopes the candidates
        (watermark + key ranges) AND the predecessor tail each
        candidate already carries, so rows voided earlier never
        re-emit."""
        import pyarrow.parquet as pq

        from biglake_iceberg_pipeline_spark.sinks.lakehouse import (
            LineageBrokenError,
        )

        label = (
            "update_preimage"
            if snap["operation"] == "update"
            else "delete"
        )
        prev_tail = set(prev.get("deletes", []))
        new = by_kind(
            m, [d for d in snap.get("deletes", []) if d not in prev_tail]
        )
        if new["position"] and new["equality"]:
            # eq-delete pre-images are masked only against the
            # PREDECESSOR tail: a commit carrying BOTH a new position
            # delete and a new equality delete could void one row
            # twice and double-emit its delete. No current writer
            # produces such a commit — fail loudly instead of
            # silently double-counting (ADVICE r8); recover via the
            # batch change_feed's keyed diff.
            raise LineageBrokenError(
                f"snapshot {snap['id']} introduces both "
                "position- and equality-delete files; the streaming "
                "change feed cannot attribute their overlap — "
                "re-baseline via the batch change_feed keyed diff"
            )
        parts: list = []
        for d in new["position"]:
            # learn the referenced data files driver-side — delete
            # files are metadata-sized — so only their partition
            # values ship to the executor
            refs = pq.read_table(d, columns=["file_path"]).column(
                "file_path"
            )
            parts.append(
                _DeleteFilePartition(
                    delete_file=d,
                    part_values_by_file={
                        fp: pv_for(fp) for fp in set(refs.to_pylist())
                    },
                    ctype=label,
                    renames=renames,
                )
            )
        if new["equality"]:
            # one partition per candidate file: a row matching two of
            # the commit's delete files must emit once
            cand = plan_deletes(m, new["equality"], prev["files"])
            prior = plan_deletes(m, prev.get("deletes", []), sorted(cand))
            for f in sorted(cand):
                parts.append(
                    _EqDeletePartition(
                        data_file=f,
                        part_values=pv_for(f),
                        deletes=cand[f],
                        ctype=label,
                        renames=renames,
                        prior=prior.get(f, FileDeletes()),
                    )
                )
        return parts


    # --------------------------------------------------------- read

    def read(self, partition):
        from pyspark.sql.pandas.types import to_arrow_schema

        if self._arrow_schema is None:
            if self._cdf:
                # overlay target excludes the label column: data
                # files never store it; it's appended per batch
                data_schema = StructType(
                    [
                        f
                        for f in self._schema.fields
                        if f.name != "_change_type"
                    ]
                )
                self._arrow_schema = to_arrow_schema(data_schema)
            else:
                self._arrow_schema = to_arrow_schema(self._schema)
        if isinstance(partition, _DeleteFilePartition):
            yield from _delete_preimage_batches(
                partition, self._arrow_schema
            )
            return
        if isinstance(partition, _EqDeletePartition):
            yield from _eq_preimage_batches(
                partition, self._arrow_schema
            )
            return
        if partition.ctype is not None:
            tbl = _overlay_table(
                partition.file,
                partition.part_values,
                self._arrow_schema,
                getattr(partition, "renames", None),
            )
            yield from _with_ctype(tbl, partition.ctype).to_batches()
            return
        yield from _overlay_batches(partition, self._arrow_schema)


class LakehouseBatchReader(DataSourceReader):
    """Batch half of the connector: ``spark.read.format("lakehouse")``
    with time travel as plain options (``snapshotId`` / ``tag`` /
    ``asOfTimestamp`` unix seconds) and manifest-stats FILE SKIPPING
    driven by Catalyst's pushed filters: comparison predicates on
    top-level columns become min/max ranges for
    ``LakehouseTable.pruned_files`` (footer stats + exact hive-path
    partition values + hidden-partition transform images), so a point
    lookup on a sort-compacted table plans ~1 file. All filters are
    returned to Spark for re-evaluation — pruning only ever SKIPS
    whole files, never rows.

    Snapshots with an unmaterialized merge-on-read delete tail read
    correctly: ``sinks/deletes.py``'s ``plan_deletes`` (the one
    delete planner materialization and the change feed use too)
    scopes the tail to the planned files, each partition ships its
    file's ``FileDeletes``, and the executor masks with
    ``voided_mask`` — O(its rows + its deletes), the per-file
    counterpart of the native read's broadcast anti-joins. The
    native ``LakehouseTable.read`` stays the featureful path (column
    pruning into the parquet scan)."""

    def __init__(self, path: str, schema: StructType, options):
        from biglake_iceberg_pipeline_spark.sinks.lakehouse import (
            LakehouseTable,
            _snapshot,
            column_rename_map,
            load_manifest,
        )

        self._path = path
        # user-supplied .schema(...) bypasses DataSource.schema() and
        # PINS the output schema — a disagreeing columns option must
        # refuse, not silently no-op (schema()-derived schemas are
        # already projected, so this is a no-op for them)
        projected = _project_columns(schema, options)
        if [f.name for f in projected] != [f.name for f in schema]:
            raise ValueError(
                "columns option conflicts with an explicit "
                ".schema(...): Spark pins the output schema — "
                "narrow the schema itself (that already prunes) or "
                "drop the option"
            )
        self._schema = schema
        self._arrow_schema = None
        m = load_manifest(path)
        branch = options.get("branch")
        if branch is not None:
            # BRANCH read (WAP staged state): the branch tail's file
            # list with the base snapshot's outstanding delete tail
            # applied — the native read's recipe through the same
            # per-file overlay. Staged files are never in
            # file_added_at, so equality deletes scope past them.
            if _resolve_time_travel(options, path) is not None:
                raise ValueError(
                    "pass one of branch / snapshotId / tag / "
                    "asOfTimestamp"
                )
            if _opt_flag(options, "useSnapshotSchema"):
                raise ValueError(
                    "useSnapshotSchema is snapshot time travel; a "
                    "branch read already uses the branch's staged "
                    "schema"
                )
            br = LakehouseTable(path)._branch_state(m, branch)
            self._files = list(LakehouseTable._branch_tail_files(br))
            if not self._files:
                raise ValueError(f"branch {branch!r} has no data")
            # no snapshot id: manifest-stats pruning is keyed by
            # snapshot, so branch reads skip file skipping (Spark
            # still re-applies filters row-wise)
            self._snapshot_id = None
            snap = {"deletes": br.get("base_deletes", [])}
        else:
            snap = _snapshot(m, _resolve_time_travel(options, path))
            if snap is None:
                raise ValueError(f"no snapshots in {path}")
            self._snapshot_id = snap["id"]
            self._files = list(snap["files"])
        self._fparts = m.get("file_partitions", {})
        # committed CURRENT schema (pre-projection): a columns-
        # projected masked read augments its target with eq-delete
        # key fields typed from here
        self._committed = StructType.fromJson(
            json.loads(m["schema"])
        ) if m.get("schema") else schema
        # unmaterialized merge-on-read tail of THIS snapshot, planned
        # into per-file overlays in partitions() from just the
        # manifest maps plan_deletes reads (the reader is pickled
        # into every task)
        self._deletes = list(snap.get("deletes", []))
        self._tail_manifest = {
            k: m.get(k, {})
            for k in ("delete_meta", "file_added_at", "file_stats")
        } if self._deletes else {}
        self._renames = (
            LakehouseTable._renames_as_of(m, self._snapshot_id)
            if _opt_flag(options, "useSnapshotSchema")
            and self._snapshot_id is not None
            else column_rename_map(m)
        )
        self._ranges: dict[str, tuple] = {}
        self._in_lists: dict[str, list] = {}

    # IN-lists longer than this skip file pruning (row-wise
    # re-evaluation still applies them): each value probes the
    # manifest stats/blooms as a point range, and an unbounded list
    # would turn planning into a scan of its own
    _MAX_IN_PRUNE = 16

    def pushFilters(self, filters):
        ranges = self._ranges
        for f in filters:
            attr = getattr(f, "attribute", None)
            if attr is None or len(attr) != 1:
                continue
            col = attr[0]
            if isinstance(f, In):
                vals = [
                    v
                    for v in f.value
                    if not isinstance(v, bool)
                    and isinstance(v, (int, float, str))
                ]
                # only prune when EVERY value is probe-able — a
                # skipped value could live in a pruned file
                if (
                    len(vals) == len(f.value)
                    and 0 < len(vals) <= self._MAX_IN_PRUNE
                ):
                    prev = self._in_lists.get(col)
                    if prev is not None:
                        # two pushed In filters on one column: the row
                        # must satisfy BOTH, so prune on the
                        # INTERSECTION — last-wins would lose the
                        # other list's pruning (ADVICE r8; results
                        # stayed correct only because Spark re-applies
                        # filters row-wise)
                        pset = set(prev)
                        vals = [v for v in vals if v in pset]
                    self._in_lists[col] = vals
                continue
            v = getattr(f, "value", None)
            # only types the footer stats store and compare cleanly
            if isinstance(v, bool) or not isinstance(
                v, (int, float, str)
            ):
                continue
            if isinstance(f, StringStartsWith):
                # prefix predicate as a string range [prefix,
                # successor(prefix)]: every string with this prefix
                # sorts >= prefix and < the prefix SUCCESSOR (last
                # incrementable char bumped, tail dropped — the
                # Iceberg/Delta bound). Appending a max code point
                # instead would NOT bound longer strings that share
                # the prefix and continue past it ('key00' +
                # U+10FFFF + 'x' startswith 'key00' but sorts above
                # 'key00' + U+10FFFF) and could prune their file.
                # The closed-range keep test treats the successor
                # inclusively — conservative, never wrong.
                if not isinstance(v, str):
                    continue
                phi = None
                for i in range(len(v) - 1, -1, -1):
                    if ord(v[i]) < 0x10FFFF:
                        phi = v[:i] + chr(ord(v[i]) + 1)
                        break
                lo0, hi0 = ranges.get(col, (None, None))
                try:
                    lo0 = v if lo0 is None else max(lo0, v)
                    if phi is not None:
                        hi0 = phi if hi0 is None else min(hi0, phi)
                except TypeError:
                    continue
                ranges[col] = (lo0, hi0)
                continue
            lo, hi = ranges.get(col, (None, None))
            try:
                if isinstance(f, EqualTo):
                    lo = v if lo is None else max(lo, v)
                    hi = v if hi is None else min(hi, v)
                elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                    lo = v if lo is None else max(lo, v)
                elif isinstance(f, (LessThan, LessThanOrEqual)):
                    hi = v if hi is None else min(hi, v)
                else:
                    continue
            except TypeError:
                continue  # mixed-type bounds: skip, stay conservative
            ranges[col] = (lo, hi)
        # Spark re-applies every filter row-wise; ranges only skip files
        return filters

    def partitions(self):
        files = self._files
        if (self._ranges or self._in_lists) and (
            self._snapshot_id is not None
        ):
            from biglake_iceberg_pipeline_spark.sinks.lakehouse import (
                LakehouseTable,
            )

            table = LakehouseTable(self._path)
            if self._ranges:
                files = table.pruned_files(
                    self._ranges, self._snapshot_id
                )
            for col, vals in self._in_lists.items():
                # a file survives iff SOME value's point probe keeps
                # it — per-value stats/bloom pruning unioned, the
                # IN-list analog of the EqualTo path; pruned_files_any
                # shares one manifest read + bloom-blob cache across
                # the probes
                keep = set(
                    table.pruned_files_any(
                        [{col: (v, v)} for v in vals],
                        self._snapshot_id,
                    )
                )
                files = [f for f in files if f in keep]
        # scoped to the PLANNED files only: a file pruned by pushed
        # filters needs no overlay — deletes only remove rows
        plan = plan_deletes(self._tail_manifest, self._deletes, files)
        keep = {f.name for f in self._schema.fields}
        # identity-partition values for eq-delete KEY columns must
        # ride the payload even when the projection dropped them —
        # the masked read needs the key readable to match
        keep |= {
            k for fd in plan.values() for _d, keys in fd.eq for k in keys
        }
        return [
            _FilePartition(
                file=f,
                part_values={
                    k: v
                    for k, v in self._fparts.get(f, {}).items()
                    if k in keep
                },
                renames=self._renames,
                deletes=plan.get(f, FileDeletes()),
            )
            for f in files
        ]

    def read(self, partition: _FilePartition):
        if partition is None:
            # pushed filters pruned every file: Spark hands read()
            # one default None partition
            return
        batches = self._read_overlaid(partition)
        if self._ranges or self._in_lists:
            # ship only rows that can survive the pushed conjuncts
            # (post-mask, so delete positions stayed physical)
            batches = _pushed_row_batches(
                batches, self._ranges, self._in_lists
            )
        yield from batches

    def _read_overlaid(self, partition: _FilePartition):
        from pyspark.sql.pandas.types import to_arrow_schema

        if self._arrow_schema is None:
            self._arrow_schema = to_arrow_schema(self._schema)
        if partition.deletes:
            declared = [f.name for f in self._schema.fields]
            extra = [
                k
                for _d, keys in partition.deletes.eq
                for k in keys
                if k not in declared
            ]
            if extra:
                # columns-projected read of an eq-tailed file: read
                # the key columns too (typed from the committed
                # schema), mask, then project them away
                full = {f.name: f for f in self._committed.fields}
                aug = StructType(
                    list(self._schema.fields)
                    + [full[k] for k in dict.fromkeys(extra)]
                )
                yield from _mor_overlay_batches(
                    partition, to_arrow_schema(aug),
                    project_names=declared,
                )
                return
            yield from _mor_overlay_batches(
                partition, self._arrow_schema
            )
            return
        yield from _overlay_batches(partition, self._arrow_schema)


class LakehouseBatchCDFReader(DataSourceReader):
    """Batch half of the change feed (F48): ``spark.read.format(
    "lakehouse").option("readChangeFeed", "true").option(
    "startingSnapshotId", n)`` returns the CLASSIFIED row changes of
    the (startingSnapshotId, endingSnapshotId] snapshot range — the
    exact per-commit planning the STREAMING change feed uses
    (``LakehouseStreamReader.partitions``: appends as inserts, MoR
    position deletes as coordinate-read pre-images, MoR merges as
    insert + watermark/range-pruned eq-matched deletes, MoR updates as
    update_pre/postimage, data_change=False rewrites elided), replayed
    as ONE bounded batch instead of micro-batches — Delta's batch
    ``table_changes`` / Iceberg's changelog scan, so batch CDC
    reconciliation runs through the same public API as the stream.

    ``startingSnapshotId`` is REQUIRED (exclusive — the snapshot the
    downstream state already reflects, the ``change_feed(from,...)``
    contract); ``endingSnapshotId`` defaults to the current snapshot
    (inclusive). Ranges crossing a row-REDISTRIBUTING commit (CoW
    rewrite / overwrite / rollback) raise ``LineageBrokenError`` —
    a file diff cannot attribute moved rows; the native keyed
    ``LakehouseTable.change_feed(spark, from, to, keys=[...])``
    snapshot diff is the distributed-join recovery for those (a join
    belongs in the DataFrame layer, not a per-file source plan).
    Mutually exclusive with time travel / branch / columns /
    skipChangeCommits options."""

    def __init__(self, path: str, schema: StructType, options):
        if options.get("branch") is not None:
            raise ValueError(
                "readChangeFeed reads the MAIN history; branch "
                "state is unpublished — audit it with a branch read"
            )
        if _resolve_time_travel(options, path) is not None:
            raise ValueError(
                "readChangeFeed uses startingSnapshotId/"
                "endingSnapshotId to bound its range; snapshotId/"
                "tag/asOfTimestamp time travel cannot combine"
            )
        if _opt_flag(options, "skipChangeCommits"):
            raise ValueError(
                "skipChangeCommits contradicts readChangeFeed: the "
                "change feed classifies exactly the commits this "
                "option skips — pass one or the other"
            )
        if options.get("columns"):
            raise ValueError(
                "columns cannot combine with readChangeFeed: change "
                "classification reads pre-images by their full key "
                "set — project downstream of the feed instead"
            )
        start = options.get("startingsnapshotid") or options.get(
            "startingSnapshotId"
        )
        if start is None:
            raise ValueError(
                "batch readChangeFeed requires .option("
                "'startingSnapshotId', n): the EXCLUSIVE lower bound "
                "— the snapshot the downstream state already "
                "reflects (pass 0 for the full history)"
            )
        self._start = int(start)
        end = options.get("endingsnapshotid") or options.get(
            "endingSnapshotId"
        )
        if end is not None:
            self._end = int(end)
        else:
            from biglake_iceberg_pipeline_spark.sinks.lakehouse import (
                LakehouseTable,
            )

            cur = LakehouseTable(path).current_snapshot_id()
            # empty table: an empty (start, start] range plans to []
            self._end = cur if cur is not None else self._start
        if self._end < self._start:
            raise ValueError(
                f"endingSnapshotId {self._end} precedes "
                f"startingSnapshotId {self._start}"
            )
        # the planning/reading engine IS the streaming CDF reader —
        # one implementation, so batch and stream can never drift on
        # classification; no rate caps, so none of its durable-cursor
        # machinery activates on this path
        self._sr = LakehouseStreamReader(
            path,
            schema,
            {
                "startingSnapshotId": str(self._start),
                "readchangefeed": "true",
            },
        )

    def partitions(self):
        return self._sr.partitions(
            {"snapshot_id": self._start},
            {"snapshot_id": self._end},
        )

    def read(self, partition):
        if partition is None:
            # an empty snapshot range plans zero partitions; the batch
            # API then hands read() one default None partition
            return
        yield from self._sr.read(partition)


@dataclass
class _StagedFiles(WriterCommitMessage):
    files: list
    rows: int


class _StagingWriterCore:
    """Shared executor-side staging + schema evolution for the
    streaming and batch writers (both Arrow-batched)."""

    def _init_staging(
        self,
        path: str,
        schema: StructType,
        stage: str,
        partition_opt: str | None = None,
    ) -> None:
        self._path = path
        self._schema = schema
        from biglake_iceberg_pipeline_spark.sinks.lakehouse import (
            load_manifest,
        )

        m = load_manifest(path)
        spec = m.get("partition_by") or []
        opt = (
            [c.strip() for c in partition_opt.split(",") if c.strip()]
            if partition_opt
            else []
        )
        if spec and opt and opt != spec:
            raise ValueError(
                f"table is partitioned by {spec}, sink option "
                f"partitionBy={opt} disagrees"
            )
        if not spec and opt:
            # the option may only DECLARE a spec for a genuinely new
            # table. An existing unpartitioned table must go through
            # evolve_partition_spec (history, guards, per-file layout
            # records) — silently converting it here would be a
            # retroactive spec change no reader opted into. A table
            # explicitly evolved TO unpartitioned (key present,
            # None) is refused upfront too, not at epoch commit.
            if "partition_by" in m:
                raise ValueError(
                    "table was evolved to unpartitioned; "
                    "evolve_partition_spec before using the sink's "
                    "partitionBy option"
                )
            if m.get("snapshots"):
                raise ValueError(
                    "existing unpartitioned table: use "
                    "evolve_partition_spec to add a spec instead of "
                    "the sink's partitionBy option"
                )
            spec = opt
        # IDENTITY partition columns are written hive-style by the
        # sink (value in the path, column dropped from the file —
        # the same layout append() produces, so reads/pruning are
        # indistinguishable). Hidden-transform specs stay refused:
        # their derived values come from Spark-side expressions the
        # Arrow writer can't replicate bit-for-bit — evolve/compact
        # after ingest for those.
        names = {f.name for f in schema.fields}
        self._part_cols: list[str] = []
        for entry in spec:
            if "(" in entry:
                raise ValueError(
                    "lakehouse sink supports identity partition "
                    f"specs only (got transform {entry!r}); "
                    "compact() or evolve the spec after ingest"
                )
            if entry not in names:
                raise ValueError(
                    f"partition column {entry!r} missing from the "
                    "stream schema"
                )
            self._part_cols.append(entry)
        # staging lives under data/ — inside sweep_orphans' walk — so
        # files stranded by a hard crash (driver killed between
        # executor staging and commit/abort, or a retried task's first
        # attempt) are reclaimed by the normal grace-window sweep
        # instead of leaking forever
        self._stage = os.path.join(path, "data", stage)

    @staticmethod
    def _hive_value(v) -> str:
        from urllib.parse import quote

        if v is None:
            return "__HIVE_DEFAULT_PARTITION__"
        return quote(str(v), safe="")

    def write(self, iterator):
        import uuid

        import pyarrow.parquet as pq

        # one open writer per distinct partition-dir this task sees
        # (unpartitioned: exactly one, at the staging root)
        writers: dict[str, pq.ParquetWriter] = {}
        paths: dict[str, str] = {}
        rows = 0
        part_cols = self._part_cols

        def sink_for(subdir: str, schema):
            if subdir not in writers:
                d = (
                    os.path.join(self._stage, subdir)
                    if subdir
                    else self._stage
                )
                os.makedirs(d, exist_ok=True)
                fp = os.path.join(
                    d, f"part-{uuid.uuid4().hex}.parquet"
                )
                writers[subdir] = pq.ParquetWriter(fp, schema)
                paths[subdir] = fp
            return writers[subdir]

        for batch in iterator:
            if batch.num_rows == 0:
                continue
            if not part_cols:
                sink_for("", batch.schema).write_batch(batch)
                rows += batch.num_rows
                continue
            # split the batch by partition tuple VECTORIZED (this
            # is the executor hot path: a per-row python loop would
            # dominate sink throughput on large epochs): dictionary-
            # encode a combined string key, filter per code, and
            # store the batch minus the partition columns (hive
            # layout). Directory values come from the group's first
            # row's ORIGINAL values, not the grouping key — the key
            # only needs distinct-values-stay-distinct.
            import pyarrow as pa
            import pyarrow.compute as pc

            tbl = pa.Table.from_batches([batch])
            keep = [
                n for n in tbl.column_names if n not in part_cols
            ]
            # ESCAPE before joining: a raw value containing the
            # separator (\x1f) or equal to the NULL sentinel would
            # merge distinct partition tuples into one group and
            # write rows under the wrong hive directory (restored
            # from the path on read — silent corruption). Percent-
            # escape '%', the separator, and '\x00' vectorized, so
            # escaped values can never contain either marker; the
            # sentinel keeps its raw '\x00', which no escaped value
            # retains.
            key_parts = []
            for c in part_cols:
                col = pc.cast(tbl.column(c), pa.string())
                col = pc.replace_substring(col, "%", "%25")
                col = pc.replace_substring(col, "\x1f", "%1F")
                col = pc.replace_substring(col, "\x00", "%00")
                key_parts.append(pc.fill_null(col, "\x00__NULL__"))
            key = (
                key_parts[0]
                if len(key_parts) == 1
                else pc.binary_join_element_wise(*key_parts, "\x1f")
            )
            codes = pc.dictionary_encode(
                key.combine_chunks()
            ).indices
            n_groups = pc.max(codes).as_py() + 1
            for code in range(n_groups):
                mask = pc.equal(codes, code)
                first = pc.index(mask, pa.scalar(True)).as_py()
                vals = [
                    tbl.column(c)[first].as_py() for c in part_cols
                ]
                subdir = os.sep.join(
                    f"{c}={self._hive_value(v)}"
                    for c, v in zip(part_cols, vals)
                )
                sub = tbl.filter(mask).select(keep)
                w = sink_for(subdir, sub.schema)
                w.write_table(sub)
                rows += sub.num_rows
        for w in writers.values():
            w.close()
        return _StagedFiles(files=sorted(paths.values()), rows=rows)

    def _evolved_schema_json(self, table) -> str:
        m = table._read_manifest()
        if not m.get("schema"):
            return self._schema.json()
        # session-free on purpose: commit runs in a driver-side
        # python worker where getOrCreate would boot a SECOND Spark
        from biglake_iceberg_pipeline_spark.operators.schema_evolution import (
            evolve_schema_types,
        )

        current = StructType.fromJson(json.loads(m["schema"]))
        return evolve_schema_types(self._schema, current).json()

    def _commit_append(
        self, files: list[str], txn: tuple[str, int] | None
    ) -> bool:
        """Atomic manifest append of staged files with loader-style
        schema evolution; returns the lock-authoritative committed
        flag (False = txn-skipped replay)."""
        from biglake_iceberg_pipeline_spark.sinks.lakehouse import (
            LakehouseTable,
        )

        table = LakehouseTable(
            self._path, partition_by=self._part_cols or None
        )
        schema_json = self._evolved_schema_json(table)
        # schema/transform clash is guarded inside _locked_commit
        # (under the lock, the only authoritative place)
        _, committed = table._locked_commit(
            "append",
            files,
            table._file_stats(files),
            schema_json,
            inherit_prev_files=True,
            txn=txn,
        )
        return committed

    def _reconcile_stage(self, messages) -> None:
        """Failure cleanup. The engine nulls ALL commit messages when
        any task of an epoch failed (observed on 4.1: abort receives
        [None, ...]), so per-message deletion can't clean the
        successful tasks' staged files. Remove what messages do name,
        then reconcile the staging root against the manifest:
        anything there that no snapshot / branch / clone references
        is the failed write's staging (prior commits' files are all
        referenced)."""
        for msg in messages:
            if msg:
                for f in msg.files:
                    try:
                        os.remove(f)
                    except OSError:
                        pass
        if not os.path.isdir(self._stage):
            return
        from biglake_iceberg_pipeline_spark.sinks.lakehouse import (
            LakehouseTable,
        )

        table = LakehouseTable(self._path)
        m = table._read_manifest()
        protected: set[str] = set()
        for s in m.get("snapshots", []):
            protected.update(s["files"])
        protected |= table._branch_protected_files(m)
        protected |= table._clone_protected_files(m)
        for root, _dirs, names in os.walk(self._stage):
            for name in names:
                p = os.path.join(root, name)
                if name.endswith(".parquet") and p not in protected:
                    try:
                        os.remove(p)
                    except OSError:
                        pass


class LakehouseStreamWriter(_StagingWriterCore, DataSourceStreamArrowWriter):
    """Executor tasks stage parquet; the driver commit is one atomic,
    txn-stamped manifest append per micro-batch."""

    def __init__(self, path: str, schema: StructType, options):
        app = options.get("txnappid") or options.get("txnAppId")
        if not app:
            raise ValueError(
                "lakehouse streaming sink requires .option('txnAppId', "
                "<stable id>): exactly-once epoch stamps need an "
                "identity that survives restarts"
            )
        self._app = app
        import hashlib
        import re

        # DETERMINISTIC staging root per txnAppId (not per instance):
        # the engine builds a fresh writer object for every
        # write/commit/abort worker, so abort-time cleanup must find
        # the epoch's files from configuration alone. One query per
        # txnAppId is already the exactly-once contract, so the only
        # unreferenced files under this root at abort time are the
        # failed epoch's own. The raw-id digest keeps DISTINCT app
        # ids from colliding after sanitization ('app:1' vs 'app/1'
        # must not share a root — a shared root would let one query's
        # abort delete the other's staged-but-uncommitted files).
        safe = re.sub(r"[^A-Za-z0-9_.-]", "-", app)[:40]
        digest = hashlib.sha1(app.encode()).hexdigest()[:8]
        self._init_staging(
            path,
            schema,
            f"snap-stream-{safe}-{digest}",
            options.get("partitionby"),
        )

    def commit(self, messages, batchId: int) -> None:
        files = [f for msg in messages if msg for f in msg.files]
        if not files:
            return  # empty epoch: no snapshot noise, no txn stamp
        committed = self._commit_append(files, (self._app, batchId))
        if not committed:
            # replayed epoch: the txn guard skipped the commit, so
            # this replay's re-staged files are provably unreferenced
            for f in files:
                try:
                    os.remove(f)
                except OSError:
                    pass

    def abort(self, messages, batchId: int) -> None:
        self._reconcile_stage(messages)


class LakehouseBatchWriter(_StagingWriterCore, DataSourceArrowWriter):
    """``df.write.format("lakehouse")``: mode("append") is the
    loader-style append (schema evolution at commit), mode
    ("overwrite") replaces the table tail, both as ONE atomic
    manifest commit of the staged files.

    ``.option("branch", name)`` (F49, append mode only) stages the
    commit on an EXISTING named branch instead of main — the write
    side of write-audit-publish through the public DataSource API:
    stage here, audit via the F47 branch read, publish with
    ``fast_forward``. Schema evolution runs against the BRANCH's
    frame (exactly ``append_to_branch``); main readers see nothing
    until publish; overwrite+branch refuses (a branch is a staged
    APPEND log — truncation semantics belong to main). Optional
    ``txnAppId`` + ``txnVersion`` stamp the staged commit for
    idempotent retries: a replayed job no-ops (re-staged files
    deleted on the spot) against the branch's stamp ledger and —
    because ``fast_forward`` merges stamps into main — even when the
    replay lands after the publish. Main-path batch writes stay
    unstamped: they have no epoch identity (exactly-once belongs to
    the streaming sink)."""

    def __init__(
        self, path: str, schema: StructType, options, overwrite: bool
    ):
        self._overwrite = overwrite
        self._branch = options.get("branch")
        app = options.get("txnappid") or options.get("txnAppId")
        ver = options.get("txnversion") or options.get("txnVersion")
        if (app is None) != (ver is None):
            raise ValueError(
                "txnAppId and txnVersion come as a pair: the stamp "
                "is (stable app identity, monotone version)"
            )
        if app is not None and self._branch is None:
            raise ValueError(
                "txn stamps on the batch writer require a branch "
                "target; main-path batch writes have no epoch "
                "identity (use the streaming sink for exactly-once)"
            )
        self._txn = (app, int(ver)) if app is not None else None
        if self._branch is not None and overwrite:
            raise ValueError(
                "overwrite cannot target a branch: a branch is a "
                "staged APPEND log (WAP) — write to main, or stage "
                "appends and publish via fast_forward"
            )
        import uuid

        self._init_staging(
            path,
            schema,
            f"snap-batch-{uuid.uuid4().hex}",
            options.get("partitionby"),
        )
        if self._branch is not None:
            # fail BEFORE executors stage anything: unknown branch
            from biglake_iceberg_pipeline_spark.sinks.lakehouse import (
                LakehouseTable,
            )

            table = LakehouseTable(path)
            table._branch_state(table._read_manifest(), self._branch)

    def _evolved_branch_schema_json(self, table) -> str:
        br = table._branch_state(
            table._read_manifest(), self._branch
        )
        base = br.get("schema")
        if not base:
            return self._schema.json()
        from biglake_iceberg_pipeline_spark.operators.schema_evolution import (  # noqa: E501
            evolve_schema_types,
        )

        current = StructType.fromJson(json.loads(base))
        return evolve_schema_types(self._schema, current).json()

    def commit(self, messages) -> None:
        from biglake_iceberg_pipeline_spark.sinks.lakehouse import (
            LakehouseTable,
        )

        files = [f for msg in messages if msg for f in msg.files]
        if self._branch is not None:
            if not files:
                return
            table = LakehouseTable(
                self._path, partition_by=self._part_cols or None
            )
            bid = table.stage_branch_files(
                self._branch,
                files,
                self._evolved_branch_schema_json(table),
                txn=self._txn,
            )
            if bid is None:
                # replayed stamped job: the txn guard skipped the
                # staging, so this run's files are provably
                # unreferenced
                for f in files:
                    try:
                        os.remove(f)
                    except OSError:
                        pass
            return
        if self._overwrite:
            # zero-row overwrite still commits: truncation semantics
            table = LakehouseTable(
                self._path, partition_by=self._part_cols or None
            )
            table._locked_commit(
                "overwrite",
                files,
                table._file_stats(files),
                self._schema.json(),
            )
            return
        if not files:
            return
        self._commit_append(files, None)

    def abort(self, messages) -> None:
        self._reconcile_stage(messages)


def write_lakehouse_stream(
    df: DataFrame,
    path: str,
    checkpoint_dir: str,
    txn_app_id: str,
):
    """Open the sink on a streaming DataFrame — caller picks the
    trigger and starts: ``write_lakehouse_stream(df, ...)
    .trigger(availableNow=True).start()``."""
    df.sparkSession.dataSource.register(LakehouseStreamSource)
    return (
        df.writeStream.format("lakehouse")
        .option("path", path)
        .option("txnAppId", txn_app_id)
        .option("checkpointLocation", checkpoint_dir)
    )


def read_lakehouse_stream(
    spark: SparkSession,
    path: str,
    starting_snapshot_id: int | None = None,
    max_files_per_trigger: int | None = None,
    schema: StructType | None = None,
    ending_snapshot_id: int | None = None,
    max_rows_per_trigger: int | None = None,
    max_bytes_per_trigger: int | None = None,
    read_change_feed: bool = False,
    skip_change_commits: bool = False,
) -> DataFrame:
    """Register the source (idempotent) and open the stream."""
    spark.dataSource.register(LakehouseStreamSource)
    reader = spark.readStream.format("lakehouse").option("path", path)
    if starting_snapshot_id is not None:
        reader = reader.option(
            "startingSnapshotId", str(starting_snapshot_id)
        )
    if ending_snapshot_id is not None:
        reader = reader.option(
            "endingSnapshotId", str(ending_snapshot_id)
        )
    if max_files_per_trigger is not None:
        reader = reader.option(
            "maxFilesPerTrigger", str(max_files_per_trigger)
        )
    if max_rows_per_trigger is not None:
        reader = reader.option(
            "maxRowsPerTrigger", str(max_rows_per_trigger)
        )
    if max_bytes_per_trigger is not None:
        reader = reader.option(
            "maxBytesPerTrigger", str(max_bytes_per_trigger)
        )
    if read_change_feed:
        reader = reader.option("readChangeFeed", "true")
    if skip_change_commits:
        reader = reader.option("skipChangeCommits", "true")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load()
